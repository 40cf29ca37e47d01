package graft.tables

import graft.cdc.{CdcApply, EventDecoder, Operation}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A parquet-backed table with Iceberg-like semantics, built only on Spark
  * + Hadoop FS (no Iceberg runtime ships in this environment):
  *
  *  - metadata file with schema / identifier fields / partition spec /
  *    properties and a snapshot pointer (cf. reference catalog commits,
  *    SINK/IcebergChangeConsumer.java:316-389, W6/W7)
  *  - Hive-layout partitioning from Iceberg-style transform specs (D4) —
  *    year/month/day/hour/bucket/truncate/identity; readers get partition
  *    pruning for free
  *  - append (W1/W2), upsert-merge (C3–C7, W3–W5), overwrite (W7),
  *    union-by-name schema evolution (D6), PK-ascending write sort (D5)
  *  - ALL tables are MERGE-ON-READ: every commit writes only immutable
  *    file groups (data files and equality-delete key files, both stamped
  *    with the commit sequence number) plus a manifest listing the live
  *    groups — the direct analogue of the reference's RowDelta commits of
  *    equality-delete + data files
  *    (SINK/tableoperator/BaseDeltaTaskWriter.java:52-72,
  *    IcebergTableWriterFactory.java:98-99). A merge costs O(batch), not
  *    O(table): the table is never read on the write path. Readers apply
  *    deletes with an anti-join scoped by sequence number (a delete at seq
  *    S hides data rows with seq < S); `compact()` folds delete files
  *    away. Snapshot versioning = versioned manifests (previous manifest
  *    retained for time travel).
  *  - partitioned tables split each commit into one file group PER
  *    TOUCHED PARTITION, the manifest entry carrying the group's partition
  *    tuple — the Iceberg model, where partition pruning is a
  *    planning-time manifest filter ([[readPartitions]]) rather than a
  *    directory listing, and the scale analogue of the reference's
  *    partition-granularity delete files
  *    (SINK/tableoperator/PartitionedDeltaWriter.java:19-78). Equality
  *    deletes are partition-SCOPED: an upsert in partition P only hides
  *    older rows of P, so partition-pruned reads and full reads agree.
  *
  * Known shared limitation with the reference: upserting a row whose
  * partition value changed leaves the old row version in the old partition
  * (equality deletes are partition-scoped there too). Partition by
  * immutable columns.
  *
  * Concurrency: one writer per table (the pipeline parallelizes across
  * tables, W11), matching the reference's per-table serial writes.
  */
final class ManagedTable private (
    val spark: SparkSession,
    val warehouse: String,
    @volatile private var _meta: TableMeta
) {
  import ManagedTable.{DelSeqCol, PosFileCol, PosIdxCol, SeqCol, TombstoneCol}

  def meta: TableMeta = _meta
  def name: String = _meta.name

  private def tableDir = new Path(warehouse, _meta.name)
  private def fs = TableMeta.fs(spark.sparkContext.hadoopConfiguration, warehouse)

  /** Label every Spark job an operation submits (guide §1.5) so the UI —
    * and job-level profiling — attribute work to table operations instead
    * of anonymous action call sites. Restores the caller's description so
    * nested operations keep the outermost label. Thread-local, like the
    * underlying property.
    */
  private def labeled[A](op: String)(f: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"graft:${_meta.name}.$op")
    try f finally sc.setJobDescription(prev)
  }

  private def partitionFields: Seq[PartitionField] =
    PartitionSpecParser.parse(_meta.partitionBy, _meta.schema.fieldNames.toSet)
  private def isPartitioned: Boolean = partitionFields.nonEmpty

  // ------------------------------------------- partition-spec evolution
  //
  // [[updatePartitionSpec]] changes HOW FUTURE WRITES are partitioned
  // without rewriting a byte of existing data — Iceberg's partition
  // evolution (spec-id-per-manifest-entry; the reference's tables inherit
  // it from the format, docs/iceberg.md partitioning config). The graft
  // encoding: prior specs live in the `partition.spec.history` property as
  // `(boundaryVersion, spec)` epochs; a file group (and each of its rows,
  // via the per-row commit seq) belongs to the epoch its seq falls in, so
  // manifests need no new field and old snapshots read unchanged.
  //
  // Delete semantics across epochs: within one epoch, upsert scopes stay
  // partition-local exactly as before (reference parity). ACROSS epochs a
  // scope is GLOBAL on the identifier fields — the old partition tuple is
  // meaningless under the new spec, and global matching is the stronger,
  // correct semantic (it even fixes the documented partition-move
  // limitation for rows that changed partition value across an evolution).

  /** Prior partition-spec epochs, ascending: (boundaryVersion, spec) —
    * groups/rows with seq <= boundaryVersion were written under `spec`.
    */
  private def specHistory: Seq[(Long, Seq[String])] =
    _meta.properties.get(ManagedTable.SpecHistoryKey).toSeq.flatMap { raw =>
      raw.split(";").toSeq.filter(_.nonEmpty).map { epoch =>
        val i = epoch.indexOf(':')
        val spec = epoch.drop(i + 1).split('|').toSeq.map(_.trim).filter(_.nonEmpty)
        epoch.take(i).toLong -> spec
      }
    }.sortBy(_._1)

  private def specBoundaries: Seq[Long] = specHistory.map(_._1)

  /** Epoch index of a commit sequence: #boundaries strictly below it. */
  private def entryEpoch(seq: Long): Int = specBoundaries.count(seq > _)

  private def currentEpoch: Int = specBoundaries.length

  /** Per-epoch specs, index-aligned with [[entryEpoch]] (last = current). */
  private def epochSpecs: Seq[Seq[String]] = specHistory.map(_._2) :+ _meta.partitionBy

  private def epochPartitionFields(i: Int): Seq[PartitionField] =
    PartitionSpecParser.parse(epochSpecs(i), _meta.schema.fieldNames.toSet)

  /** Partition fields of EVERY epoch, first-occurrence order, deduped by
    * name ([[updatePartitionSpec]] guarantees a reused name means the
    * identical transform). The read schema must carry all of them: old
    * file groups hold old epochs' derived columns.
    */
  private def allEpochPartitionFields: Seq[PartitionField] =
    epochSpecs.flatMap(s => PartitionSpecParser.parse(s, _meta.schema.fieldNames.toSet))
      .distinctBy(_.name)

  /** Change the partition spec for future writes — metadata-only, nothing
    * is rewritten (Iceberg partition evolution). Existing file groups keep
    * their tuples and stay pruned/delete-scoped under the spec they were
    * written with; a full [[compact]] later normalizes the whole table to
    * the current spec. Unpartitioned→partitioned and back are both legal.
    *
    * A derived column name shared with any earlier epoch must denote the
    * very same transform of the same source column (otherwise one physical
    * column would hold values from two formulas — refused). Tables with
    * live WAP branches can't evolve (a stage-then-publish straddling the
    * boundary would misclassify the staged groups' epoch).
    */
  def updatePartitionSpec(newSpec: Seq[String]): Unit = {
    newSpec.foreach(s => require(!s.exists(";|:".contains(_)),
      s"invalid partition spec '$s'"))
    val parsed = PartitionSpecParser.parse(newSpec, _meta.schema.fieldNames.toSet,
      strict = true)
    require(parsed.map(_.name).distinct.size == parsed.size,
      "duplicate derived column names in partition spec")
    if (parsed.map(p => (p.name, p.transform, p.sourceColumn)) ==
        partitionFields.map(p => (p.name, p.transform, p.sourceColumn)) &&
        newSpec.map(_.trim).filter(_.nonEmpty) == _meta.partitionBy.map(_.trim).filter(_.nonEmpty))
      return // no-op: identical spec
    require(branches().isEmpty,
      "cannot evolve the partition spec while WAP branches are staged " +
        "(publish or abandon them first)")
    val prior = epochSpecs.flatMap(s =>
      PartitionSpecParser.parse(s, _meta.schema.fieldNames.toSet))
    parsed.foreach { pf =>
      prior.find(_.name == pf.name).foreach { e =>
        // Same source + transform with a different parameter (rebucket,
        // re-truncate) is FINE: the physical column stores each epoch's
        // formula value and every consumer — scope matching, tuple
        // pruning — is epoch-local, so interpretations never mix. Only a
        // different source/transform under one name is refused (one
        // column, two meanings).
        require(e.sourceColumn == pf.sourceColumn && e.transform == pf.transform,
          s"derived partition column '${pf.name}' already exists in an earlier " +
            s"epoch as ${e.transform}(${e.sourceColumn}); two different " +
            "transforms cannot share one physical column")
      }
      if (pf.transform != "identity")
        require(!_meta.schema.fieldNames.contains(pf.name),
          s"derived partition column '${pf.name}' collides with a schema column")
    }
    requireCurrentPointer()
    // a never-committed table just swaps the spec in place — no epoch
    // machinery for data that doesn't exist
    if (_meta.currentVersion == 0 && currentEntries.isEmpty) {
      _meta = _meta.copy(partitionBy = newSpec)
      writeMeta()
      return
    }
    val hist = specHistory :+ (_meta.currentVersion -> _meta.partitionBy)
    val enc = hist.map { case (v, s) => s"$v:${s.mkString("|")}" }.mkString(";")
    _meta = _meta.copy(partitionBy = newSpec,
      properties = _meta.properties + (ManagedTable.SpecHistoryKey -> enc))
    writeMeta()
  }

  /** One field-level [[updatePartitionSpec]]: drop the field `oldField`
    * names, add the field `newField` specifies, or replace one with the
    * other in place (one epoch boundary, not a drop and an add). A dropped
    * field is named by its derived name (`id_bucket`, not a schema column)
    * or by its transform spec. The SQL partition-field DDL's one entry;
    * the public API is [[updatePartitionSpec]].
    */
  private[graft] def replacePartitionField(oldField: Option[String],
                                           newField: Option[String]): Unit = {
    require(oldField.isDefined || newField.isDefined,
      s"${_meta.name}: a partition-field change needs a field to drop or to add")
    val cols = _meta.schema.fieldNames.toSet
    val current = _meta.partitionBy.map(_.trim).filter(_.nonEmpty)
    def nameOf(s: String): Option[String] =
      PartitionSpecParser.parse(Seq(s), cols).headOption.map(_.name)
    def strictName(s: String): String =
      PartitionSpecParser.parse(Seq(s), cols, strict = true).head.name
    def spec = current.mkString(", ")
    val oldName = oldField.map(f => if (current.flatMap(nameOf).contains(f)) f else strictName(f))
    val kept = current.filterNot(s => oldName.exists(nameOf(s).contains))
    oldName.foreach(n => require(kept.size < current.size,
      s"${_meta.name}: no partition field '$n' (spec: $spec)"))
    newField.map(strictName).foreach(n => require(!kept.flatMap(nameOf).contains(n),
      s"${_meta.name}: partition field '$n' already exists (spec: $spec)"))
    updatePartitionSpec((oldName, newField) match {
      case (Some(n), Some(f)) => current.map(s => if (nameOf(s).contains(n)) f else s)
      case _ => kept ++ newField
    })
  }

  /** Data file format — the reference's `write.format-default`
    * (docs/iceberg.md write-format config; ORC covered by its config-matrix
    * tests). parquet | orc.
    */
  private def format: String = _meta.properties.getOrElse("write.format-default", "parquet")

  /** Temporal precision mode for batch→table type drift (`write.temporal-mode`
    * property; reference `debezium.source.time.precision.mode`,
    * SINK/DebeziumConfig.java:20-26). Gates [[graft.cdc.SchemaMapping.coerceTo]].
    */
  private def temporalMode: graft.cdc.TemporalMode =
    graft.cdc.TemporalMode.fromString(
      _meta.properties.getOrElse("write.temporal-mode", "isostring"))

  private def manifestsDir = new Path(tableDir, "manifests")
  private def filesDir = new Path(tableDir, "files")
  private def manifestPath(v: Long) = new Path(manifestsDir, s"v=$v.json")

  /** The current version's manifest MUST exist (create() writes v=0): a
    * missing file means an incompatible/corrupted table dir, and falling
    * back to "empty table" would be silent data loss for readers and let
    * a resumed stream merge against nothing.
    */
  /** Committed manifests are IMMUTABLE (every commit — including
    * rollback and WAP publish — writes a NEW version file), so the
    * current entry list is cached per version: the trickle hot path
    * calls this several times per micro-batch commit and re-parsing the
    * manifest JSON each time is pure fixed cost. A benign race (two
    * threads fill the cache for one version) computes identical values.
    */
  @transient private var entriesCache: (Long, Seq[ManifestEntry]) = null

  /** Per-handle cache of committed manifests for the commit-path GC
    * (round 12): committed manifests are immutable, and the retention
    * diff re-reads the same window every commit — each read is an FS RPC
    * on an object store. Bounded to the newest 64 versions. Only manifests
    * that were read are cached: a missing one (a gap version of a
    * multi-version publish) is never cached and is probed again on the next
    * read, and an unparsable one throws out of [[readManifestCached]].
    */
  @transient private var manifestCache: Map[Long, Seq[ManifestEntry]] = Map.empty

  /** Retirement candidates the commit GC's age guard deferred — see
    * [[retireGroups]].
    */
  @transient private var pendingRetire: Set[String] = Set.empty

  private def readManifestCached(v: Long): Seq[ManifestEntry] =
    manifestCache.get(v) match {
      case Some(e) => e
      case None => Manifest.read(fs, manifestPath(v)) match {
        case Some(e) =>
          manifestCache += (v -> e)
          if (manifestCache.size > 64)
            manifestCache = manifestCache.toSeq.sortBy(-_._1).take(64).toMap
          e
        case None =>
          // MISSING (Manifest.read throws on unreadable-but-present, so
          // None is only the gap versions of multi-version publishes) —
          // do not cache: a version could in principle appear later, and
          // the re-probe is one cheap stat.
          Seq.empty
      }
    }

  private def currentEntries: Seq[ManifestEntry] = {
    val v = _meta.currentVersion
    val cached = entriesCache
    if (cached != null && cached._1 == v) cached._2
    else {
      val e = Manifest.read(fs, manifestPath(v)).getOrElse(
        throw new IllegalStateException(
          s"table ${_meta.name}: manifest for current version $v is missing " +
            s"(${manifestPath(v)}) — corrupted or incompatible table directory"))
      entriesCache = (v, e)
      e
    }
  }

  private def partitionColType(pf: PartitionField): DataType = pf.transform match {
    case "year" | "bucket" => IntegerType
    case "identity"        => _meta.schema(pf.sourceColumn).dataType
    case _                 => StringType
  }

  /** Physical schema = table schema + non-identity derived partition cols
    * of EVERY spec epoch (identity partitions relocate the source column
    * into the dir path; old epochs' derived columns live only in old
    * files and read as null elsewhere).
    */
  private def physicalSchema: StructType = {
    val derived = allEpochPartitionFields.filter(_.transform != "identity")
      .map(pf => StructField(pf.name, partitionColType(pf), nullable = true))
    StructType(_meta.schema.fields ++ derived)
  }

  /** Logical view: exactly the table schema. Missing columns in old files
    * (pre-evolution) read as null via explicit-schema projection.
    */
  def read(): DataFrame = readPhysical().select(_meta.schema.fieldNames.map(col).toIndexedSeq: _*)

  /** Includes derived partition columns — internal + pruning-aware readers. */
  def readPhysical(): DataFrame = morRead(currentEntries)

  /** Manifest-level partition pruning — the Iceberg planning-time
    * partition filter. `pred` sees each file group's partition tuple in
    * canonical string form (null partition values appear as the Hive
    * default-partition sentinel). Only groups whose tuple passes are ever
    * listed or opened: at 100 TB a one-partition read plans against one
    * group list, not a table listing. Sound under MoR deletes because
    * delete scopes are partition-local (an upsert group in partition P
    * only hides older rows of P), so a pruned read and a full read agree
    * on every surviving partition.
    */
  def readPartitions(pred: Map[String, String] => Boolean): DataFrame = {
    require(isPartitioned || specHistory.exists(_._2.nonEmpty),
      "readPartitions needs a partitioned table")
    val entries = currentEntries
    val kept = entries.filter(e => pred(e.partition))
    // Multi-epoch tables: an upsert group from a LATER epoch than any kept
    // group carries GLOBAL cross-epoch delete scopes that may hide kept
    // rows — it must feed the delete side even when its own tuple fails
    // `pred` (its rows stay invisible; see morResolve's deleteCarriers).
    val carriers =
      if (specBoundaries.isEmpty) Seq.empty
      else {
        val minKept = kept.map(e => entryEpoch(e.seq)).minOption.getOrElse(Int.MaxValue)
        val keptSet = kept.toSet
        entries.filter(e => e.kind == Manifest.Upsert && !keptSet.contains(e) &&
          entryEpoch(e.seq) > minKept)
      }
    morRead(kept, deleteCarriers = carriers)
  }

  /** Monotone partition transforms: a source-column range maps to a
    * contiguous range in the derived domain, so tuples outside it cannot
    * hold in-range rows. Bucket is the one non-monotone transform.
    */
  private def isMonotoneTransform(pf: PartitionField): Boolean =
    pf.transform match {
      case "identity" | "year" | "month" | "day" | "hour" => true
      case "truncate" => _meta.schema(pf.sourceColumn).dataType == StringType
      case _ => false
    }

  private def monotoneFieldsOf(c: String): Seq[PartitionField] =
    allEpochPartitionFields.filter(pf => pf.sourceColumn == c && isMonotoneTransform(pf))

  /** The canonical TUPLE string a bound maps to under a transform —
    * evaluated through the very Catalyst expression the write path uses
    * ([[PartitionSpecParser]] + the tuple's string cast), on a local
    * one-row relation: no file I/O, bit-exact agreement with stored
    * tuples at any session time zone.
    */
  private def transformBound(pf: PartitionField, v: Any): String = {
    val dt = _meta.schema(pf.sourceColumn).dataType
    val b = try spark.range(1)
      .select(lit(v).cast(dt).as(pf.sourceColumn))
      .select(pf.expr.cast(StringType).as("b"))
      .head().getString(0)
    catch { // ANSI mode surfaces a malformed bound as a cast error
      case e: org.apache.spark.SparkThrowable =>
        throw new IllegalArgumentException(
          s"range bound '$v' does not cast to ${pf.sourceColumn}'s type $dt",
          e.asInstanceOf[Throwable])
    }
    require(b != null,
      s"range bound '$v' does not cast to ${pf.sourceColumn}'s type $dt")
    b
  }

  /** Range read on a monotone partition SOURCE column (identity / year /
    * month / day / hour / truncate-on-string in some spec epoch), BOTH
    * bounds INCLUSIVE, open bounds allowed; logical columns, exact rows.
    * A time-window query on a day-partitioned log plans against the
    * touched days' groups. Pruning is [[readPrunedConjunction]]'s rule; a
    * bound that does not cast to the column's type fails here instead of
    * silently pruning nothing.
    */
  def readSourceRange(c: String, lo: Option[Any], hi: Option[Any]): DataFrame = {
    require(_meta.schema.fieldNames.contains(c), s"unknown column $c")
    require(lo.isDefined || hi.isDefined, "at least one bound")
    require(monotoneFieldsOf(c).nonEmpty,
      s"$c is not a monotone partition source column of any spec epoch")
    tupleRangePred(c, lo, hi) // throws on an uncastable bound
    val base = readPrunedConjunction(Seq(ManagedTable.PruneConjunct(c, lo, hi)))
      .select(_meta.schema.fieldNames.map(col).toIndexedSeq: _*)
    val withLo = lo.map(v => base.filter(col(c) >= lit(v))).getOrElse(base)
    hi.map(v => withLo.filter(col(c) <= lit(v))).getOrElse(withLo)
  }

  /** The epoch-aware tuple-range test behind [[conjunctStates]]: can the
    * tuple hold rows with `c` in the inclusive range [lo, hi]?
    *
    * Bounds are transformed PER EPOCH through that epoch's own Catalyst
    * expression: updatePartitionSpec allows re-parameterizing a transform
    * (truncate(c,4) -> truncate(c,8)) under one derived name, so a bound
    * computed at one width must never be compared against another
    * epoch's tuples — e.g. hi='apricot' truncates to 'apri' at width 4,
    * which would wrongly prune a width-8 group whose tuple is 'apric'
    * even though its rows satisfy c <= 'apricot'.
    * Year compares numerically (tuple ints are not zero-padded), the
    * string transforms lexicographically (fixed-width formats), identity
    * in the column's natural domain. Throws on a bound that does not cast
    * to the column's type (callers either propagate — readSourceRange's
    * fail-fast contract — or fall back to not pruning).
    */
  private def tupleRangePred(c: String, lo: Option[Any], hi: Option[Any])
      : (Int, Map[String, String]) => Boolean = {
    val perEpochBounds: IndexedSeq[Seq[(PartitionField, (Option[String], Option[String]))]] =
      (0 to currentEpoch).map { i =>
        epochPartitionFields(i)
          .filter(pf => pf.sourceColumn == c && isMonotoneTransform(pf))
          .map(pf => pf -> (lo.map(transformBound(pf, _)), hi.map(transformBound(pf, _))))
      }
    val numeric = (pf: PartitionField) => pf.transform == "year" ||
      (pf.transform == "identity" && (_meta.schema(c).dataType match {
        case _: NumericType => true
        case _ => false
      }))
    // String comparison in UTF-8 BYTE order, matching Spark's UTF8String
    // ordering (and the write-path tuple values) — Java's UTF-16
    // compareTo diverges for supplementary-plane characters and could
    // wrongly prune a group (same lesson as [[ColBounds.intersects]]).
    def cmp(pf: PartitionField, a: String, b: String): Int =
      if (numeric(pf)) java.lang.Double.compare(a.toDouble, b.toDouble)
      else java.util.Arrays.compareUnsigned(
        a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    (epoch: Int, tuple: Map[String, String]) =>
      perEpochBounds(epoch).forall { case (pf, (l, h)) =>
        tuple.get(pf.name) match {
          case None => true // tuple lacks the column: cannot prune
          case Some(v) if v == ExternalCatalogUtils.DEFAULT_PARTITION_NAME =>
            false // null source value is outside any non-null range
          case Some(v) =>
            l.forall(lv => cmp(pf, v, lv) >= 0) && h.forall(hv => cmp(pf, v, hv) <= 0)
        }
      }
  }

  /** Live partition tuples (SHOW PARTITIONS analogue) — metadata-only:
    * one manifest read, no data scan.
    */
  def partitions(): Seq[Map[String, String]] =
    currentEntries.map(_.partition).distinct

  /** Metadata-only row count of the live snapshot: the `count(*)` answer
    * of [[manifestGroupedAggOver]] (Iceberg's `total-records`), one
    * manifest read, zero data scan. `None` when any group is an
    * upsert/posdel (visible rows ≠ written rows until a full [[compact]])
    * or predates row-count recording — callers fall back to [[rowCount]].
    */
  def fastRowCount: Option[Long] =
    manifestGroupedAggOver(Seq.empty, Seq("count" -> None), currentEntries)
      .map(_.head._2.head.asInstanceOf[Long])

  /** Exact visible-row count: the manifest answer when available, else one
    * scan. Appends/overwrites/compacted tables stay metadata-only.
    */
  def rowCount(): Long = fastRowCount.getOrElse(read().count())

  /** Manifest-answered aggregates: count / min / max over `entries` — the
    * entry set a scan would serve (live, pinned ref or consumed region) —
    * from per-entry row counts and column bounds, one manifest read, zero
    * data scans. Ungrouped when `groupCols` is empty, else `GROUP BY <one
    * or more identity partition sources>` (Iceberg's partitions metadata
    * table answer to the most common rollup).
    *
    * `wants`: ("count", None) and/or ("min"/"max", Some(col)). Returns one
    * row per live tuple-value combination (one row when ungrouped) —
    * (per-group-column tuple strings, None for the Hive null sentinel;
    * raw values: count→Long, min/max in the stats domain i→Long,
    * f→Double, s→String, callers cast) — or None unless EXACT:
    *  - every entry plain data with a recorded row count (an upsert group
    *    or posdel sidecar can hide rows, so written ≠ visible);
    *  - grouped only: a single spec epoch (older epochs may not carry the
    *    field at all), and every group column identity-transformed and
    *    string-round-tripping (the tuple string must cast back to the
    *    exact value — same gate as [[tupleRelation]], including the
    *    null-vs-"__HIVE_DEFAULT..." ambiguity for STRING columns);
    *  - zero-row groups contribute nothing (SQL emits no group for them),
    *    and every counted group carries bounds for every min/max column
    *    (bounds cover non-null values, exactly SQL min/max; an all-null
    *    group has none and cannot claim one). An ungrouped min/max over no
    *    rows is left to the scan, which answers NULL.
    */
  private[graft] def manifestGroupedAggOver(groupCols: Seq[String],
                                            wants: Seq[(String, Option[String])],
                                            entries: Seq[ManifestEntry])
      : Option[Seq[(Seq[Option[String]], Seq[Any])]] = {
    if (groupCols.nonEmpty && entries.exists(e => entryEpoch(e.seq) != currentEpoch))
      return None
    val pfs = groupCols.map { gc =>
      partitionFields.find(f => f.transform == "identity" &&
        f.sourceColumn.equalsIgnoreCase(gc)).getOrElse(return None)
    }
    val flds = pfs.map(pf =>
      _meta.schema.fields.find(_.name == pf.sourceColumn).getOrElse(return None))
    if (!flds.forall(f => tupleRoundTrips(f.dataType))) return None
    if (!entries.forall(e => e.kind == Manifest.Data && e.rows >= 0L &&
        pfs.forall(pf => e.partition.contains(pf.name))))
      return None
    if (pfs.zip(flds).exists { case (pf, fld) =>
        fld.dataType == StringType && entries.exists(
          _.partition.get(pf.name).contains(ExternalCatalogUtils.DEFAULT_PARTITION_NAME)) })
      return None
    val counted = entries.filter(_.rows > 0L)
    val groups =
      if (pfs.isEmpty) {
        if (counted.isEmpty && wants.exists(_._2.isDefined)) return None
        Seq(Seq.empty[Option[String]] -> counted)
      } else counted.groupBy { e =>
        pfs.map { pf =>
          val v = e.partition(pf.name)
          if (v == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) None else Some(v)
        }
      }.toSeq
    Some(groups.map { case (tuple, es) =>
      tuple -> wants.map {
        case ("count", _) => es.map(_.rows).sum
        case (kind, Some(c)) =>
          val (mn, mx) = ManagedTable.boundsRange(
            es.map(_.stats.getOrElse(c, return None))).getOrElse(return None)
          if (kind == "min") mn else mx
        case _ => return None // unknown want shape
      }
    })
  }

  /** Time travel: resolve an older manifest (previous versions are
    * retained per `write.versions-retained`) against the current schema.
    */
  def readVersion(v: Long): DataFrame = {
    val entries = Manifest.read(fs, manifestPath(v))
      .getOrElse(throw new ManagedTable.RetentionLostException(
        s"no retained manifest for version $v of ${_meta.name}"))
    morRead(entries)
  }

  /** Retained snapshot versions with their commit wall-clocks, ascending —
    * the graft analogue of Iceberg's snapshot log. Metadata-only: one
    * directory listing plus one manifest-header read per retained version
    * (bounded by `write.versions-retained`, never by table size).
    */
  def versions(): Seq[(Long, Long)] = {
    if (!fs.exists(manifestsDir)) Seq.empty
    else fs.listStatus(manifestsDir).toSeq
      .map(_.getPath.getName)
      .filter(n => n.startsWith("v=") && n.endsWith(".json"))
      .flatMap(n => scala.util.Try( // stray non-numeric names never break listing
        n.stripPrefix("v=").stripSuffix(".json").toLong).toOption)
      .sorted
      .flatMap(v => Manifest.commitTimeMs(fs, manifestPath(v)).map(v -> _))
  }

  /** Timestamp time travel (Iceberg's `FOR TIMESTAMP AS OF`): read the
    * last snapshot committed at or before `tsMs`. Throws if every retained
    * snapshot is newer — succeeding with a later state would silently
    * violate the as-of contract.
    */
  def readAsOf(tsMs: Long): DataFrame = readVersion(versionAt(tsMs))

  /** The snapshot version [[readAsOf]] resolves `tsMs` to — shared with
    * the V2 catalog's `TIMESTAMP AS OF` so the as-of contract lives in
    * one place.
    */
  def versionAt(tsMs: Long): Long = {
    val vs = versions()
    val at = vs.filter(_._2 <= tsMs)
    require(at.nonEmpty,
      s"no retained snapshot of ${_meta.name} at or before $tsMs " +
        s"(earliest retained: ${vs.headOption.map(_._2).getOrElse("none")})")
    at.last._1
  }

  /** Classified row-level diff between two retained snapshots — "what
    * changed between v1 and v2" as keys + status (`added` / `removed` /
    * `changed`), built on [[graft.operators.Reconcile.diff]]'s diff-sized
    * full-outer join of the two snapshot scans. Complements
    * [[readChangesBetween]] (the raw per-commit changelog) with the NET
    * answer auditors actually ask for.
    */
  def diffVersions(fromVersion: Long, toVersion: Long): DataFrame = {
    require(_meta.identifierFields.nonEmpty, "diffVersions needs a keyed table")
    graft.operators.Reconcile
      .diff(readVersion(toVersion), readVersion(fromVersion), _meta.identifierFields)
      .withColumn("status",
        when(col("status") === "missing_in_target", "added")
          .when(col("status") === "extra_in_target", "removed")
          .otherwise("changed"))
  }

  /** Roll the table back to a retained snapshot (Iceberg's
    * `rollback_to_snapshot`): version v's manifest entries are
    * re-committed as a NEW version through the normal claim + pointer
    * protocol — metadata-only, no data rewrite, readers flip atomically.
    * History is preserved: the rolled-past versions stay retained (time
    * travel still reaches them) until retention/expiry GC ages them out,
    * and their file groups survive as long as any retained manifest
    * references them. Works on a tag too: `rollbackTo(tags()("name"))`.
    */
  def rollbackTo(v: Long): Unit = {
    require(v != _meta.currentVersion,
      s"table ${_meta.name} is already at version $v")
    val entries = Manifest.read(fs, manifestPath(v)).getOrElse(
      throw new IllegalArgumentException(
        s"no retained manifest for version $v of ${_meta.name} — " +
          "rollback targets must be retained snapshots"))
    commitManifestWithProps(entries, barrierProp)
  }

  /** Snapshot tags — named, immutable refs to snapshot versions (the
    * Iceberg tag analogue: an audit label like `eod-2026-08-13` or a
    * reproducibility pin for a training run). Stored as reserved
    * `ref.tag.<name>` table properties, so they ride the same guarded
    * metadata commit as everything else. A tagged version's manifest AND
    * every file group it references are protected from commit-time GC
    * regardless of `write.versions-retained` — compaction can rewrite the
    * live table while a months-old tagged snapshot stays byte-stable —
    * until [[dropTag]] releases them (the next commit sweeps).
    *
    * Tagging is metadata-only: no data is copied, a tag costs one pointer
    * write no matter the table size.
    */
  def tag(name: String, version: Long): Unit = {
    require(name.nonEmpty && !name.contains('/') && !name.contains('='),
      s"invalid tag name '$name'")
    // readRef resolves all-digit refs as SNAPSHOT numbers first — an
    // all-digit tag would be unreachable, and worse, a snapshot with that
    // number would silently serve instead of the tag's pinned version
    require(!name.forall(_.isDigit),
      s"invalid tag name '$name': all-digit names collide with snapshot " +
        "version refs (VERSION AS OF resolves numbers as snapshots first)")
    require(fs.exists(manifestPath(version)),
      s"cannot tag version $version of ${_meta.name}: no retained manifest " +
        "(tags must point at a still-retained snapshot)")
    setProperties(Map(ManagedTable.TagPrefix + name -> version.toString))
  }

  /** Tag the current snapshot. */
  def tag(name: String): Unit = tag(name, _meta.currentVersion)

  /** Live tags: name → snapshot version. */
  def tags(): Map[String, Long] =
    _meta.properties.collect {
      case (k, v) if k.startsWith(ManagedTable.TagPrefix) =>
        k.stripPrefix(ManagedTable.TagPrefix) -> v.toLong
    }

  /** Read the snapshot a tag pins (time travel by name). */
  def readTag(name: String): DataFrame =
    readVersion(tags().getOrElse(name,
      throw new IllegalArgumentException(s"no tag '$name' on ${_meta.name}")))

  /** Read by REF string — ONE resolution shared by SQL `VERSION AS OF`
    * and the DataSource's `versionAsOf` option (round 8): an all-digit
    * string is a snapshot version; otherwise a TAG name resolves first
    * (immutable pins — the reproducibility use), then a WAP BRANCH name
    * (the staged audit view); an unknown ref fails listing the live
    * names.
    */
  def readRef(ref: String): DataFrame = {
    require(ref.nonEmpty, "empty version ref")
    if (ref.forall(_.isDigit)) readVersion(ref.toLong)
    else tags().get(ref).map(readVersion).getOrElse {
      if (branches().contains(ref)) readBranch(ref)
      else throw new IllegalArgumentException(
        s"${_meta.name}: unknown version ref '$ref' — not a snapshot " +
          s"version, tag or branch (tags: " +
          s"${tags().keys.toSeq.sorted.mkString(", ")}; branches: " +
          s"${branches().mkString(", ")})")
    }
  }

  /** Drop a tag; the version it pinned becomes GC-eligible at the next
    * commit (unless still inside the retention window). Same optimistic-
    * concurrency guard as every metadata commit.
    */
  def dropTag(name: String): Unit = {
    val key = ManagedTable.TagPrefix + name
    require(_meta.properties.contains(key), s"no tag '$name' on ${_meta.name}")
    requireCurrentPointer()
    _meta = _meta.copy(properties = _meta.properties - key)
    writeMeta()
  }

  // ------------------------------------------------------- WAP branches

  /** The branch's CURRENT manifest file. Manifests are immutable
    * (temp + rename-no-overwrite), so extending a branch's staged set
    * ([[stageAppendInto]]) writes a NEW generation file
    * `branch=<name>@g<k>.json` and flips the branch property — the
    * guarded metadata write IS the atomic commit point; the superseded
    * generation becomes debris the load-time sweep clears. The property
    * value carries the generation tag after '@' (a fresh
    * [[stageAppend]]/[[createBranch]] writes the untagged base name).
    */
  private def branchManifestPath(name: String): Path = {
    val tag = _meta.properties.get(ManagedTable.BranchPrefix + name)
      .flatMap(v => v.indexOf('@') match {
        case -1 => None
        case i  => Some(v.substring(i)) // "@g<k>"
      })
    new Path(manifestsDir, s"branch=$name${tag.getOrElse("")}.json")
  }

  /** All file groups any live WAP branch references — GC-protected like
    * tagged snapshots until the branch publishes or is abandoned.
    */
  private def liveBranchEntries: Seq[ManifestEntry] =
    _meta.properties.keys.toSeq
      .filter(_.startsWith(ManagedTable.BranchPrefix))
      .map(_.stripPrefix(ManagedTable.BranchPrefix))
      .flatMap(n => Manifest.read(fs, branchManifestPath(n)).getOrElse(Seq.empty))

  /** Write-audit-publish, step 1: stage an append on a named branch. The
    * batch's file groups are written through the normal write path but
    * referenced only by a BRANCH manifest — the live table is untouched
    * and ordinary readers see nothing. The Iceberg WAP pattern
    * (`spark.wap.branch` / audit-branch + fast-forward): land risky data,
    * audit it, then [[publishBranch]] atomically or [[abandonBranch]]
    * for free. Staging costs exactly one batch write; publish is a
    * metadata-only commit — no data is rewritten at any point, at any
    * table size.
    *
    * Staged rows carry the stage-time sequence number: relative to
    * upsert commits that land BETWEEN stage and publish, they order as of
    * staging (documented single-writer model makes this a non-issue in
    * practice).
    */
  def stageAppend(batch: DataFrame, branch: String): Unit = {
    require(branch.nonEmpty && !branch.contains('/') && !branch.contains('=') &&
      !branch.contains('@'), s"invalid branch name '$branch'")
    // same collision as all-digit tags: readRef would resolve the name as
    // a snapshot number, never reaching the branch
    require(!branch.forall(_.isDigit),
      s"invalid branch name '$branch': all-digit names collide with " +
        "snapshot version refs")
    val key = ManagedTable.BranchPrefix + branch
    require(!_meta.properties.contains(key), s"branch '$branch' already exists")
    val conformed = EventDecoder.conformTo(batch, _meta.schema, temporalMode)
    val seq = _meta.currentVersion + 1
    val entries =
      if (isPartitioned)
        splitWriteGroups(withPartitionCols(conformed), Manifest.Data, _ => seq, seq)
      else writeGroupAuto(sortForWrite(conformed), Manifest.Data, seq).toSeq
    Manifest.write(fs, branchManifestPath(branch), entries,
      Some(System.currentTimeMillis()))
    // the property is the branch's commit point (same guarded metadata
    // write as tags); a crash before it leaves only swept-at-load debris
    setProperties(Map(key -> seq.toString))
  }

  /** Create an EMPTY branch (the SQL `ALTER TABLE … CREATE BRANCH`
    * shape, round 8): nothing is staged yet; branch-targeted writes
    * ([[stageAppendInto]], SQL INSERT under `spark.wap.branch`)
    * accumulate onto it, [[publishBranch]] folds the accumulated set in
    * atomically, [[abandonBranch]] frees it. Metadata-only.
    */
  def createBranch(branch: String): Unit = {
    require(branch.nonEmpty && !branch.contains('/') && !branch.contains('=') &&
      !branch.contains('@'), s"invalid branch name '$branch'")
    require(!branch.forall(_.isDigit),
      s"invalid branch name '$branch': all-digit names collide with " +
        "snapshot version refs")
    val key = ManagedTable.BranchPrefix + branch
    require(!_meta.properties.contains(key), s"branch '$branch' already exists")
    Manifest.write(fs, branchManifestPath(branch), Seq.empty,
      Some(System.currentTimeMillis()))
    setProperties(Map(key -> (_meta.currentVersion + 1).toString))
  }

  /** Stage a batch ONTO a branch, creating the branch when absent —
    * the `spark.wap.branch` write shape (Iceberg's write-to-branch,
    * round 8): the batch's groups join the branch's staged set; the
    * live table is untouched and plain readers see nothing until
    * [[publishBranch]]. Each staged batch costs exactly its own write.
    */
  def stageAppendInto(batch: DataFrame, branch: String): Unit = {
    val key = ManagedTable.BranchPrefix + branch
    if (!_meta.properties.contains(key)) { stageAppend(batch, branch); return }
    stageInto(branch, Manifest.Data,
      EventDecoder.conformTo(batch, _meta.schema, temporalMode), skipIfEmpty = false)
  }

  /** Row-level DML batch staged onto a WAP branch (round 9): a flagged
    * upsert group — table columns + [[ManagedTable.TombstoneCol]]
    * hard-delete verdicts, the exact shape [[deleteWhere]]/[[updateWhere]]
    * /[[mergeInto]] commit — joins the branch's staged set at the next
    * BRANCH-LOCAL sequence, strictly above every earlier staged batch and
    * above the live snapshot: the staged DML hides earlier staged rows
    * and (at publish) live rows of its keys, exactly like commits order
    * on the live table. Schema contract is the writer's (no conformTo —
    * callers build from the branch view). Keyed tables only.
    */
  private[graft] def stageUpsertInto(flagged: DataFrame, branch: String): Unit = {
    require(_meta.identifierFields.nonEmpty,
      s"stageUpsertInto on ${_meta.name}: keyed tables only")
    require(_meta.properties.contains(ManagedTable.BranchPrefix + branch),
      s"no branch '$branch' on ${_meta.name}")
    stageInto(branch, Manifest.Upsert, flagged, skipIfEmpty = true)
  }

  /** Shared branch-extension body: write `rows` as one staged batch of
    * `kind` at the next branch-local seq and flip the branch property.
    * Every staged batch lands STRICTLY ABOVE the previous one (and above
    * the live snapshot at stage time), so the staged set carries exact
    * intra-branch ordering — contiguous seqs from stage-time
    * currentVersion+1, which is what lets [[publishBranch]] adopt a
    * multi-batch branch in place.
    */
  private def stageInto(branch: String, kind: String, rows: DataFrame,
                        skipIfEmpty: Boolean): Unit = {
    val key = ManagedTable.BranchPrefix + branch
    val oldPath = branchManifestPath(branch)
    // a missing current-generation manifest is CORRUPTION, exactly as
    // publishBranch treats it — reading it as empty would silently
    // discard every previously staged batch
    val existing = Manifest.read(fs, oldPath).getOrElse(
      throw new IllegalStateException(
        s"branch '$branch' of ${_meta.name} has no manifest — corrupted " +
          "branch (abandon it before staging again)"))
    val seq = math.max(_meta.currentVersion,
      existing.map(_.seq).maxOption.getOrElse(0L)) + 1
    val entries =
      if (isPartitioned)
        splitWriteGroups(withPartitionCols(rows), kind, _ => seq, seq)
      else writeGroupAuto(sortForWrite(rows), kind, seq).toSeq
    // a no-match branch DML writes a zero-row group — don't burn a branch
    // generation on it (mirrors finishUpsertCommit's skip)
    if (skipIfEmpty && entries.forall(_.rows == 0L)) {
      entries.foreach(e => fs.delete(new Path(tableDir, e.path), true))
      return
    }
    // next generation file + guarded property flip = atomic extension;
    // the superseded generation is debris (load-time sweep; the delete
    // below is just the eager path). The nonce keeps a re-created
    // branch's g1 from colliding with crash debris of a previous
    // incarnation still inside the sweep grace.
    val gen = _meta.properties(key).indexOf('@') match {
      case -1 => 1L
      case i  => _meta.properties(key).substring(i + 2).takeWhile(_.isDigit).toLong + 1L
    }
    val tag = s"g$gen-${java.util.UUID.randomUUID().toString.take(6)}"
    Manifest.write(fs, new Path(manifestsDir, s"branch=$branch@$tag.json"),
      existing ++ entries, Some(System.currentTimeMillis()))
    setProperties(Map(key -> s"$seq@$tag"))
    fs.delete(oldPath, false)
  }

  /** WAP step 2 (audit): the table AS IT WOULD BE after publishing —
    * current snapshot plus the branch's staged groups. Run validation
    * queries against this.
    */
  def readBranch(branch: String): DataFrame = {
    require(_meta.properties.contains(ManagedTable.BranchPrefix + branch),
      s"no branch '$branch' on ${_meta.name}")
    val staged = Manifest.read(fs, branchManifestPath(branch)).getOrElse(Seq.empty)
    morRead(currentEntries ++ staged)
      .select(_meta.schema.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** Live branch names. */
  def branches(): Seq[String] =
    _meta.properties.keys.toSeq
      .filter(_.startsWith(ManagedTable.BranchPrefix))
      .map(_.stripPrefix(ManagedTable.BranchPrefix)).sorted

  /** WAP step 3a: fold the branch's staged groups into the live table as
    * one atomic commit (the fast-forward) and drop the branch. Metadata
    * only — the staged files are adopted in place, never rewritten or
    * copied. Entries are re-stamped to the publish version so incremental
    * changelog consumers ([[readChangesBetween]]) see them at the version
    * where they became visible.
    */
  def publishBranch(branch: String): Unit = {
    val key = ManagedTable.BranchPrefix + branch
    require(_meta.properties.contains(key), s"no branch '$branch' on ${_meta.name}")
    // resolve the manifest path BEFORE any property mutation — the
    // generation tag lives in the property value
    val manifestFile = branchManifestPath(branch)
    val staged = Manifest.read(fs, manifestFile).getOrElse(
      throw new IllegalStateException(
        s"branch '$branch' of ${_meta.name} has no manifest — corrupted branch"))
    // publishing a branch nothing was ever staged on is a semantic no-op:
    // free the branch without burning a snapshot version
    if (staged.isEmpty) { abandonBranch(branch); return }
    val base = _meta.currentVersion
    val seqs = staged.map(_.seq)
    // Staged batches carry contiguous branch-local seqs from stage-time
    // currentVersion+1 ([[stageInto]]). If no live commit intervened,
    // those are exactly base+1..base+k: adopt the groups IN PLACE and
    // land the pointer at base+k in ONE atomic flip — metadata-only at
    // any staged size, intra-branch ordering (staged DML over staged
    // appends) preserved bit-for-bit, and changelog consumers replay the
    // branch's internal history with exact per-batch seqs. (min == base+1
    // with max <= base + #distinct forces contiguity by pigeonhole.)
    val adoptInPlace = seqs.min == base + 1 && seqs.max <= base + seqs.distinct.size
    val (published, target) =
      if (adoptInPlace) (staged, seqs.max)
      else {
        // Live commits intervened since staging: staged seqs collide with
        // (or fall behind) committed ones, so adopting would corrupt the
        // changelog. Re-stamp each staged batch IN SEQ ORDER onto
        // consecutive fresh seqs — upsert groups keep their kind and
        // tombstones (a delete staged on the branch still deletes at
        // publish), data groups re-write as plain appends — and commit
        // once at base + #batches. Costs one write of the staged data.
        // Ordering vs the intervened commits is PUBLISH-time: the staged
        // batches take effect AFTER them (fresh seqs above base), i.e.
        // publish ≡ replaying the branch's CAPTURED ROW batches, in stage
        // order, on top of the publish-time live state — staged updates
        // re-apply as upserts (an intervened live delete of the same key
        // is overridden; the staged batch is later), staged tombstones
        // delete regardless of intervened re-writes. The deterministic
        // reading of the single-writer caveat (BranchDmlChaosSpec pins
        // it, conflicts included).
        val bySeq = staged.groupBy(_.seq).toSeq.sortBy(_._1)
        val out = bySeq.zipWithIndex.flatMap { case ((_, batch), i) =>
          val newSeq = base + 1 + i
          batch.groupBy(_.kind).toSeq.flatMap { case (kind, es) =>
            val (scanned, project) = scanGroups(
              es.map(e => new Path(tableDir, e.path).toString))
            // staged files already carry derived partition columns, so no
            // withPartitionCols here; the writer stamps newSeq
            val rows0 = project(scanned).drop(SeqCol)
            val rows = if (kind == Manifest.Upsert) rows0 // tombstones ride
                       else rows0.drop(TombstoneCol)
            if (isPartitioned) splitWriteGroups(rows, kind, _ => newSeq, newSeq)
            else writeGroupAuto(sortForWrite(rows), kind, newSeq).toSeq
          }
        }
        (out, base + bySeq.size)
      }
    val prevMeta = _meta
    _meta = _meta.copy(properties = _meta.properties - key)
    try commitManifestAt(currentEntries ++ published, target)
    catch { case t: Throwable => _meta = prevMeta; throw t }
    fs.delete(manifestFile, false)
    // re-stamped path: the original staged groups were re-written onto
    // fresh seqs above and are no longer referenced anywhere. The commit
    // path no longer sweeps unreferenced dirs (round 12 manifest-diff GC),
    // so retire them here — the branch manifest was their only reference.
    if (!adoptInPlace) dropBranchOnlyGroups(staged)
  }

  /** WAP step 3b: drop the branch and retire its staged groups — the
    * branch manifest was their only reference, and the commit path no
    * longer sweeps unreferenced dirs (round 12 manifest-diff GC). The
    * live table never saw them.
    */
  def abandonBranch(branch: String): Unit = {
    val key = ManagedTable.BranchPrefix + branch
    require(_meta.properties.contains(key), s"no branch '$branch' on ${_meta.name}")
    val manifestFile = branchManifestPath(branch) // before the property drop
    val staged = Manifest.read(fs, manifestFile).getOrElse(Seq.empty)
    requireCurrentPointer()
    _meta = _meta.copy(properties = _meta.properties - key)
    writeMeta()
    fs.delete(manifestFile, false)
    dropBranchOnlyGroups(staged)
  }

  /** Retire a dropped/published branch's staged group dirs, sparing any
    * path a live reference still covers (the current snapshot, another
    * branch, or a retained/tagged manifest — a staged group is
    * uuid-fresh, so overlaps are defensive, not expected). Deletion goes
    * through the commit-lease age guard of [[retireGroups]]: a dir younger
    * than the grace is deferred to a later commit of this handle, never
    * deleted under a concurrent writer that may still be landing it.
    */
  private def dropBranchOnlyGroups(staged: Seq[ManifestEntry]): Unit = {
    if (staged.isEmpty) return
    val taggedVs = _meta.properties.collect {
      case (k, v) if k.startsWith(ManagedTable.TagPrefix) => v.toLong
    }
    val keep = ((versions().map(_._1) ++ taggedVs).distinct
      .flatMap(readManifestCached) ++ liveBranchEntries).map(_.path).toSet
    retireGroups((staged.map(_.path).toSet ++ pendingRetire) -- keep)
  }

  /** Row-level DELETE staged onto a WAP branch (round 9 — Iceberg routes
    * DML under `spark.wap.branch` to the branch, and so does graft's SQL
    * layer now): rows of the BRANCH VIEW matching `cond` are tombstoned
    * in a staged upsert group at the next branch-local seq, so the delete
    * hides earlier staged rows of those keys immediately and live rows at
    * publish. Plain readers see nothing; [[publishBranch]] folds the
    * delete in, [[abandonBranch]] discards it. Keyed tables only —
    * keyless row deletes are copy-on-write rewrites a branch cannot
    * stage, and the metadata region fast paths don't apply (they mutate
    * live metadata mid-audit).
    */
  def deleteWhereOnBranch(cond: org.apache.spark.sql.Column, branch: String): Unit = {
    requireBranchDml("DELETE", branch)
    val flagged = readBranch(branch).filter(coalesce(cond, lit(false)))
      .withColumn(TombstoneCol, lit(true))
    stageUpsertInto(flagged, branch)
  }

  /** Row-level UPDATE staged onto a WAP branch — [[updateWhere]] against
    * the branch view, landing in the branch's staged set instead of the
    * live table. Setting an identifier or partition-source column
    * tombstones the old identity in the same staged group, exactly like
    * the live path.
    */
  def updateWhereOnBranch(cond: org.apache.spark.sql.Column,
                          set: Map[String, org.apache.spark.sql.Column],
                          branch: String): Unit = {
    requireBranchDml("UPDATE", branch)
    require(set.nonEmpty, "updateWhereOnBranch requires at least one assignment")
    set.keys.foreach(k => require(_meta.schema.fieldNames.contains(k),
      s"unknown column $k"))
    val matched = readBranch(branch).filter(coalesce(cond, lit(false)))
    val updated = matched.select(_meta.schema.fields.toSeq.map { f =>
      set.get(f.name).map(_.cast(f.dataType)).getOrElse(col(f.name)).as(f.name)
    }: _*).withColumn(TombstoneCol, lit(false))
    val partSrc = partitionFields.map(_.sourceColumn).toSet
    val needsTombstones = set.keySet.exists(k =>
      _meta.identifierFields.contains(k) || partSrc.contains(k))
    val flagged =
      if (needsTombstones)
        updated.unionByName(matched.withColumn(TombstoneCol, lit(true)))
      else updated
    stageUpsertInto(flagged, branch)
  }

  /** Branch DML is staged as equality-delete-scoped upsert groups, so it
    * needs row identity (refuse keyless tables precisely — BEFORE any
    * branch is created). A missing branch is CREATED, matching INSERT
    * under `spark.wap.branch` (stageAppendInto's create-on-first-stage):
    * a misspelled or not-yet-staged branch name must stage-and-audit,
    * never silently mutate the live table mid-audit.
    */
  private def requireBranchDml(stmt: String, branch: String): Unit = {
    require(_meta.identifierFields.nonEmpty,
      s"$stmt on WAP branch '$branch' of ${_meta.name}: keyed tables only — " +
        "keyless row-level DML is a copy-on-write rewrite, which a branch " +
        "cannot stage (publish or abandon the branch first)")
    if (!_meta.properties.contains(ManagedTable.BranchPrefix + branch))
      createBranch(branch)
  }

  /** Expire retained snapshots committed at or before `olderThanMs`
    * (Iceberg's `expire_snapshots(older_than)`): their manifests are
    * dropped and any file group no surviving manifest or branch
    * references is deleted. The current version and tagged versions are
    * always kept. Complements count-based `write.versions-retained`
    * (enforced at commit time) with the age-based policy a compliance
    * window wants. Metadata-scale cost: one manifest read per retained
    * version plus one files-dir listing — no data scan.
    */
  def expireSnapshots(olderThanMs: Long): Int = {
    requireCurrentPointer()
    val taggedVs = tags().values.toSet
    val candidates = versions().filter { case (v, t) =>
      v != _meta.currentVersion && t <= olderThanMs && !taggedVs.contains(v)
    }
    candidates.foreach { case (v, _) => fs.delete(manifestPath(v), false) }
    val survivors =
      if (!fs.exists(manifestsDir)) Seq.empty
      else fs.listStatus(manifestsDir).toSeq.map(_.getPath)
        .filter(p => p.getName.startsWith("v=") && p.getName.endsWith(".json"))
    val retained = (survivors.flatMap(p => Manifest.read(fs, p).getOrElse(Seq.empty)) ++
      liveBranchEntries).map(_.path).toSet
    sweepUnreferencedGroups(retained)
    candidates.size
  }

  /** Maintenance: delete file groups no retained manifest, tag, or
    * branch references and whose last modification predates `olderThanMs`
    * (Iceberg's `remove_orphan_files`) — the explicit cleanup for debris
    * a hard crash left behind, without waiting for the next commit's
    * sweep. The effective cutoff is floored at now − commit-lease grace
    * (enforced inside [[sweepUnreferencedGroups]], the ONE sweep loop):
    * a younger unreferenced dir may be a CONCURRENT writer's in-flight
    * staging, so even an aggressive cutoff cannot delete a live write.
    * Metadata-scale: one files-dir listing plus one manifest read per
    * retained version. Returns the number of group dirs removed.
    */
  def removeOrphanFiles(olderThanMs: Long): Int = {
    requireCurrentPointer()
    // `older_than` is an ABSOLUTE epoch-ms timestamp (Iceberg's
    // procedure contract). A duration passed by mistake (3600000 for
    // "1 hour") lands in 1970 and would silently remove nothing — fail
    // loudly instead. The floor is year 2000, not the table's first
    // commit: a conservative cutoff (now − 7 days) on a two-day-old
    // table is a legitimate no-op, while every duration-style value
    // (anything under ~30 years in millis) sits far below the floor.
    require(olderThanMs >= 946684800000L,
      s"remove_orphan_files: older_than=$olderThanMs is before 2000-01-01 — " +
        "the argument is an absolute epoch-millis timestamp, not a duration; " +
        "pass e.g. System.currentTimeMillis() - retention")
    val retained = (versions()
      .flatMap { case (v, _) => Manifest.read(fs, manifestPath(v)).getOrElse(Seq.empty) } ++
      liveBranchEntries).map(_.path).toSet
    sweepUnreferencedGroups(retained, cutoffMs = Some(olderThanMs))
  }

  /** Record the moment a group dir lands under `files/`: rename
    * preserves the STAGING-time mtime, and for a long write that
    * predates the sweep grace — [[sweepUnreferencedGroups]] would treat
    * the just-landed (not yet committed) group as stale debris and
    * delete it out from under the pending pointer flip. The durable
    * record is a fresh SENTINEL file (`.landed`) created inside the dir
    * — its own creation time IS the land time on any filesystem —
    * because `setTimes` is optional FS surface (HDFS-compatible stores
    * may throw) and a swallowed failure there would silently reopen the
    * lost-commit window the grace exists to close. setTimes still runs
    * as a best-effort extra so plain `ls -l` agrees. Dot-named, so every
    * Spark reader (and our own scans) skips it.
    */
  private def freshenGroupDir(dst: Path): Unit = {
    try fs.create(new Path(dst, ManagedTable.LandSentinel), true).close()
    catch { case _: java.io.IOException => () }
    try fs.setTimes(dst, System.currentTimeMillis(), -1)
    catch { case _: UnsupportedOperationException | _: java.io.IOException => () }
  }

  /** The land time [[sweepUnreferencedGroups]] ages a candidate by: the
    * sentinel's mtime when present (authoritative — see
    * [[freshenGroupDir]]), else the dir mtime. Stat cost is paid per
    * UNREFERENCED candidate only — debris-sized, not table-sized.
    */
  private def landedAtMs(dir: org.apache.hadoop.fs.FileStatus): Long =
    try {
      val sent = new Path(dir.getPath, ManagedTable.LandSentinel)
      if (fs.exists(sent))
        math.max(dir.getModificationTime, fs.getFileStatus(sent).getModificationTime)
      else dir.getModificationTime
    } catch { case _: java.io.IOException => dir.getModificationTime }

  /** Delete file groups no retained manifest references — but only once
    * STALE (the commit-lease grace): a CONCURRENT appender's staged group
    * is unreferenced right up to its own pointer flip, and with commit
    * retry making parallel appenders a supported pattern, an age-blind
    * sweep would delete a group mid-write. True crash debris just waits
    * one grace period. (Same lease convention as claims and
    * branch-manifest sweeps; a write stalled past the grace loses its
    * lease everywhere.) An explicit `cutoffMs` ([[removeOrphanFiles]])
    * tightens the window further but can never loosen it past the grace.
    * Returns the number of group dirs removed.
    */
  private def sweepUnreferencedGroups(retained: Set[String],
                                      cutoffMs: Option[Long] = None): Int = {
    val graceMs = _meta.properties.getOrElse("commit.lock-grace-ms", "300000").toLong
    val graceCutoff = System.currentTimeMillis() - graceMs
    val cutoff = cutoffMs.fold(graceCutoff)(c => math.min(c, graceCutoff))
    var removed = 0
    if (fs.exists(filesDir)) fs.listStatus(filesDir).foreach { s =>
      if (!retained.contains(s"files/${s.getPath.getName}") &&
          landedAtMs(s) < cutoff) {
        fs.delete(s.getPath, true); removed += 1
      }
    }
    removed
  }

  // --------------------------------------------------- metadata tables

  /** The `files` metadata table (Iceberg's `SELECT * FROM t.files`
    * analogue): one row per live file group with kind, commit seq, row
    * count, partition tuple and column bounds — manifest-only, no data
    * scan. Feed it to SQL for maintenance decisions ("which partitions
    * have how many trickle groups", "how many rows landed per commit").
    */
  def filesMetadata(): DataFrame = {
    val schema = StructType(Seq(
      StructField("path", StringType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("seq", LongType, nullable = false),
      StructField("row_count", LongType, nullable = true),
      StructField("partition", MapType(StringType, StringType), nullable = false),
      StructField("bounds", MapType(StringType, StringType), nullable = false)))
    val rows = currentEntries.map { e =>
      Row(e.path, e.kind, e.seq,
        if (e.rows >= 0) java.lang.Long.valueOf(e.rows) else null,
        e.partition,
        e.stats.map { case (c, b) => c -> s"[${b.min}, ${b.max}]" })
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** The `partitions` metadata table (Iceberg's `SELECT * FROM
    * t.partitions`): one row per live partition tuple with group count,
    * commit-seq range, and the exact row count when the manifest can
    * answer it (all groups plain data with recorded counts — upsert
    * groups may hide rows, so those tuples report null). Manifest-only.
    */
  def partitionsMetadata(): DataFrame = {
    val schema = StructType(Seq(
      StructField("partition", MapType(StringType, StringType), nullable = false),
      StructField("n_groups", IntegerType, nullable = false),
      StructField("n_rows", LongType, nullable = true),
      StructField("min_seq", LongType, nullable = false),
      StructField("max_seq", LongType, nullable = false)))
    // Upsert groups' delete scopes are partition-local WITHIN a spec
    // epoch but global-on-ids ACROSS epochs — so an upsert committed in
    // another tuple at a later epoch can still hide this tuple's rows,
    // and its mere existence forfeits this tuple's exact count.
    val upserts = currentEntries.filter(_.kind == Manifest.Upsert)
    val rows = currentEntries
      .groupBy(_.partition).toSeq.flatMap { case (tuple, all) =>
        val es = all.filterNot(_.kind == Manifest.PosDel)
        // a posdel-only tuple (its data groups dropped, sidecar retained)
        // has no data to report — and .min over the empty seq list would
        // throw before any row filter could run
        if (es.isEmpty) None
        else {
          // exactness over ALL entries of the tuple — a posdel sidecar
          // hides rows in data files, so its presence forfeits the exact
          // count (the same rule fastRowCount applies)
          val crossEpochHider = upserts.exists(u =>
            all.exists(e => entryEpoch(u.seq) != entryEpoch(e.seq) && u.seq > e.seq))
          val exact = all.forall(e => e.kind == Manifest.Data && e.rows >= 0L) &&
            !crossEpochHider
          Some(Row(tuple, es.size,
            if (exact) java.lang.Long.valueOf(es.map(_.rows).sum) else null,
            es.map(_.seq).min, es.map(_.seq).max))
        }
      }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** The `snapshots` metadata table: retained versions with commit
    * wall-clocks and the current marker — [[versions]] as a DataFrame.
    */
  def snapshotsMetadata(): DataFrame = {
    import spark.implicits._
    versions().map { case (v, ts) =>
      (v, new java.sql.Timestamp(ts), v == _meta.currentVersion)
    }.toDF("version", "committed_at", "is_current")
  }

  /** The `refs` metadata table: tags and WAP branches with their pinned
    * version / staged sequence.
    */
  def refsMetadata(): DataFrame = {
    import spark.implicits._
    val tagRows = tags().toSeq.map { case (n, v) => (n, "tag", v) }
    val branchRows = _meta.properties.collect {
      case (k, v) if k.startsWith(ManagedTable.BranchPrefix) =>
        // the value may carry a generation tag after '@' (stageAppendInto)
        (k.stripPrefix(ManagedTable.BranchPrefix), "branch",
          v.takeWhile(_.isDigit).toLong)
    }.toSeq
    (tagRows ++ branchRows).toDF("name", "type", "version")
  }

  /** Merge-on-read scan: one multi-path scan of every file group plus a
    * single anti-join against the upsert groups' (identifier, seq) pairs —
    * an upsert group at seq S hides rows of groups with seq < S (the
    * reference's sequence-number-scoped equality deletes,
    * IcebergTableOperator.java:205-249). The delete side is column-pruned
    * to identifiers + seq, and upsert groups at the minimum live seq are
    * skipped outright (nothing older exists for them to hide) — so after a
    * compaction the delete side is only the trickle batches since, which
    * AQE broadcasts: the main data scan is never shuffled. Tombstone rows
    * (hard deletes) are filtered out last.
    */
  /** Read retaining the commit-sequence column
    * ([[ManagedTable.SeqCol]]) — gives metadata readers a deterministic
    * commit order (wall-clock columns tie under fast successive commits).
    */
  def readWithCommitSeq(): DataFrame = morRead(currentEntries, keepSeq = true)

  /** Incremental changelog: the net per-key changes committed in versions
    * (fromVersion, toVersion] — the Iceberg incremental-scan analogue that
    * lets a downstream consumer (index updater, replica, cache) follow the
    * table without rescanning it. Group sequence numbers ARE commit
    * versions, so this is a manifest filter + the same seq-scoped resolve
    * as [[read]], restricted to in-range groups: cost is O(changes), the
    * base is never scanned. Output keeps [[ManagedTable.SeqCol]] (which
    * commit) and [[ManagedTable.TombstoneCol]] (true = the key was hard-
    * deleted).
    *
    * Delivery is at-least-once across MINOR compaction: a fold moves
    * trickle groups to their max seq, so a consumer whose `fromVersion`
    * predates the fold may see already-consumed rows again, but never
    * misses one — tombstones are preserved. A FULL [[compact]] is a
    * history barrier: it folds the resolved view (tombstones dropped)
    * into one data group, so delete notifications before it are gone.
    * Advance consumers past the current version before a full compact,
    * or use [[compactMinor]] while changelog consumers are active.
    */
  def readChangesBetween(fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion, s"empty range: ($fromVersion, $toVersion]")
    val entries = Manifest.read(fs, manifestPath(toVersion))
      .getOrElse(throw new IllegalArgumentException(
        s"no retained manifest for version $toVersion of ${_meta.name}"))
    changesFromEntries(entries, fromVersion, toVersion)
  }

  /** Is `version`'s manifest still retained (readable for time travel /
    * changelog ranges)? One metadata existence check.
    */
  def manifestRetained(version: Long): Boolean = fs.exists(manifestPath(version))

  /** Per-commit row totals over (fromExclusive, toInclusive] from the
    * CURRENT manifest's entries (entry seq = commit version): one cached
    * metadata read, ZERO Spark jobs — the admission-control budget a
    * `maxRowsPerTrigger`-style source cap needs. Minor folds attribute
    * their rows to the fold's max seq, so this is a sound BUDGET (what a
    * batch would actually scan), not an exact per-commit changelog count.
    */
  def rowsPerVersion(fromExclusive: Long, toInclusive: Long): Map[Long, Long] =
    currentEntries.filter(e => e.seq > fromExclusive && e.seq <= toInclusive)
      .groupBy(_.seq) // unrecorded counts (adopted files, rows = -1) cost 0 budget
      .map { case (v, es) => v -> es.map(e => math.max(0L, e.rows)).sum }

  /** [[readChangesBetween]] evaluated against the CURRENT manifest — the
    * streaming-source restart fallback when `toVersion`'s own manifest
    * aged out of retention (the default retains ONE version): the
    * current snapshot's view of the seq range, net per key. Equivalent
    * whenever the range's groups survive unchanged; a minor compaction
    * folding range groups together with LATER ones can lift their entry
    * seq past `toVersion` and drop them from this view (at-least-once,
    * same caveat the changelog already documents under compaction), and
    * a full rewrite stamps the barrier, which streaming callers check
    * first.
    */
  def readChangesBetweenCurrent(fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion, s"empty range: ($fromVersion, $toVersion]")
    changesFromEntries(currentEntries, fromVersion, toVersion)
  }

  private def changesFromEntries(entries: Seq[ManifestEntry],
                                 fromVersion: Long, toVersion: Long): DataFrame = {
    val inRange = entries.filter(e => e.seq > fromVersion && e.seq <= toVersion)
    val outSchema = StructType(physicalSchema.fields :+
      StructField(SeqCol, LongType, nullable = false) :+
      StructField(TombstoneCol, BooleanType, nullable = false))
    if (inRange.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], outSchema)
    else morResolve(inRange)
      .withColumn(TombstoneCol, coalesce(col(TombstoneCol), lit(false)))
  }

  /** Follow this table as a Structured Streaming source: every file group
    * a future commit writes arrives as a micro-batch of raw change rows
    * (physical schema + [[ManagedTable.SeqCol]] commit sequence +
    * [[ManagedTable.TombstoneCol]] hard-delete marker) — the streaming
    * face of [[readChangesBetween]], feeding downstream indexes/replicas/
    * caches without rescanning the table. Built on the parquet file
    * source (new files under `files/` are discovered by the standard
    * checkpointed listing — offsets, recovery and exactly-once file
    * delivery come from Spark, zero custom source code); consumers apply
    * rows in `SeqCol` order per key, exactly like the batch changelog.
    *
    * Delivery contract (file-level, looser than the batch changelog):
    *  - at-least-once per row version — a compaction/minor-fold REWRITES
    *    live rows into new files, which re-deliver; filter replays with
    *    the seq column or pause maintenance while a follower is active;
    *  - files become visible at WRITE time, not commit time: a follower
    *    can see a group milliseconds before its pointer flip, and in the
    *    crash window a never-committed group's rows may deliver once
    *    (they are swept at the next commit/load). Followers needing
    *    commit-exact delivery should poll [[readChangesBetween]] against
    *    [[versions]] instead. Don't follow tables using WAP staging —
    *    staged groups deliver at stage time.
    * Parquet tables only (posdel sidecars are excluded by the path
    * glob's kind prefix).
    */
  /** Commit WAKE-UP stream: one row per new manifest file — fires on
    * EVERY commit, including metadata-only ones a data-file stream never
    * sees (keyed/keyless metadata region deletes, truncate, adopt-in-
    * place branch publish, marker-advance property commits). Rows are
    * wake signals (the manifest file's text), not data: followers
    * ([[graft.cdc.Replicate.follow]], [[MaterializedView.follow]])
    * re-read exact committed versions themselves, so delivery semantics
    * of the file source cannot affect correctness. Works for any group
    * file format (the manifest is always JSON text).
    */
  def commitStream(): DataFrame =
    spark.readStream.format("text")
      .load(s"${new Path(tableDir, "manifests")}/v=*.json")

  def readChangeStream(): DataFrame = {
    require(format == "parquet", "readChangeStream follows parquet tables")
    val readSchema = StructType(physicalSchema.fields :+
      StructField(SeqCol, LongType, nullable = false) :+
      StructField(TombstoneCol, BooleanType, nullable = true))
    spark.readStream
      .schema(readSchema)
      .parquet(s"${new Path(tableDir, "files")}/{${Manifest.Data},${Manifest.Upsert}}-*")
      // adopted groups ([[addFiles]]) carry no per-row seq column — same
      // dir-name recovery as the batch scan ([[scanGroups]])
      .withColumn(SeqCol, coalesce(col(SeqCol),
        regexp_extract(col("_metadata.file_path"),
          ManagedTable.GroupSeqPattern, 2).cast(LongType)))
      .withColumn(TombstoneCol, coalesce(col(TombstoneCol), lit(false)))
  }

  /** [[readColRange]] on an identifier column: a point lookup on a
    * PK-sorted, compacted table opens one group, and parquet row-group
    * pruning skips most of its pages.
    */
  def readKeyRange(idCol: String, lo: Any, hi: Any): DataFrame = {
    require(_meta.identifierFields.contains(idCol), s"$idCol is not an identifier field")
    readColRange(idCol, lo, hi)
  }

  /** Range read `lo <= c AND c <= hi` on any column, exact rows (physical
    * columns). Pruning is [[readPrunedConjunction]]'s rule: on a column
    * with manifest bounds — every group of a `write.cluster-by` z-order
    * compaction carries them for each clustered column — only intersecting
    * groups are opened.
    */
  def readColRange(c: String, lo: Any, hi: Any): DataFrame = {
    require(lo != null && hi != null, "range bounds must be non-null")
    readPrunedConjunction(Seq(ManagedTable.PruneConjunct(c, Some(lo), Some(hi))))
      .filter(col(c).between(lit(lo), lit(hi)))
  }

  /** Attach per-group Bloom filters for `cols` to the current snapshot's
    * manifest — equality pruning for columns with NO usable sort order
    * (bounds on an unsorted column span everything; a Bloom still answers
    * "definitely absent"). The Iceberg `write.parquet.bloom-filter-enabled`
    * analogue lifted to the manifest, where pruning happens at PLANNING
    * time: a [[readWhereEq]] point lookup on a 100 TB table opens only
    * the groups whose filter might contain the value.
    *
    * Identifier columns need no call: every commit that writes a
    * data/upsert group builds their filters in its write pass
    * ([[BloomMeta]]). This is for other columns, and for groups written
    * before commit-time filters existed.
    *
    * ONE columnar scan of the live data/upsert groups builds every
    * (group, column) filter with the write path's aggregate
    * ([[graft.functions.BloomBitsAgg]], grouped by group dir), so the
    * driver collects one small bitset per (group, column). Committed as a
    * metadata-only manifest version; entries written by later commits
    * carry filters only for identifier columns (others are kept, not
    * pruned) until the next build; rewritten groups (compaction) drop
    * their filters with their entries — staleness is impossible by
    * construction. Returns the number of entries carrying filters.
    *
    * Sizing: by default each group's filter is sized to its row count
    * ([[BloomMeta.bitsFor]]: ≥ 8 bits per row, fpp ≈ 0.2–2.4% at k = 4);
    * `bits` > 0 fixes the width instead (a power of two in
    * [64, [[BloomMeta.MaxBits]]]). Columns carrying rename lineage or an
    * initial default are refused, as in [[analyzeColumns]]: their
    * physical values differ from the values reads return.
    */
  def buildBlooms(cols: Seq[String], bits: Int = 0): Int = {
    require(cols.nonEmpty, "no columns")
    require(bits == 0 || (Integer.bitCount(bits) == 1 && bits >= 64 && bits <= BloomMeta.MaxBits),
      s"bits must be 0 (sized per group) or a power of two in [64, ${BloomMeta.MaxBits}], got $bits")
    val colsD = cols.distinct
    colsD.foreach { c =>
      require(physicalSchema.fieldNames.contains(c), s"unknown column $c")
      require(BloomMeta.domainOf(physicalSchema(c).dataType).isDefined,
        s"no Bloom filter for column $c of type ${physicalSchema(c).dataType.catalogString}")
      require(!renameAliases.contains(c) && !columnDefaults.contains(c),
        s"column $c carries rename lineage or an initial default; compact first")
    }
    requireCurrentPointer()
    val entries = currentEntries
    val target = entries.filter(e =>
      e.kind == Manifest.Data || e.kind == Manifest.Upsert)
    if (target.isEmpty) return 0
    val readSchema = StructType(colsD.map(c => physicalSchema(c)))
    val aggs = count(lit(1)).as("__rows") +: bloomAggs(colsD, readSchema)
    val perGroup = spark.read.schema(readSchema).format(format)
      .load(target.map(e => new Path(tableDir, e.path).toString): _*)
      .withColumn("__grp", regexp_extract(col("_metadata.file_path"),
        "(files/(?:data|upsert)-[0-9]+-[0-9a-f]{8})/", 1))
      .groupBy("__grp").agg(aggs.head, aggs.tail: _*)
      .collect().map(r => r.getString(0) -> r).toMap
    val updated = entries.map { e =>
      perGroup.get(e.path) match {
        case Some(r) =>
          val m = if (bits > 0) bits else BloomMeta.bitsFor(r.getAs[Long]("__rows"))
          e.copy(blooms = e.blooms ++
            foldBlooms(colsD, readSchema, m, r.getAs[Any](_)))
        case None => e
      }
    }
    commitManifest(updated)
    updated.count(_.blooms.nonEmpty)
  }

  /** Bloom coverage for `cols`: (groups carrying filters for ALL of
    * them, total data/upsert groups) — one manifest read, the
    * [[Maintenance]] bloom tier's decision input.
    */
  def bloomCoverage(cols: Seq[String]): (Int, Int) = {
    val es = currentEntries.filter(e =>
      e.kind == Manifest.Data || e.kind == Manifest.Upsert)
    (es.count(e => cols.forall(e.blooms.contains)), es.size)
  }

  /** Identifier columns that get a Bloom filter in a group written from a
    * frame of `schema` — every filterable identifier present, except
    * columns carrying rename lineage or an initial default, whose stored
    * values may differ from the values reads return.
    */
  private def keyBloomCols(schema: StructType): Seq[String] =
    _meta.identifierFields.filter(c => schema.fieldNames.contains(c) &&
      BloomMeta.domainOf(schema(c).dataType).isDefined &&
      !renameAliases.contains(c) && !columnDefaults.contains(c))

  /** One [[graft.functions.BloomBitsAgg]] per column, named `bl_<c>`. */
  private def bloomAggs(cols: Seq[String], schema: StructType): Seq[Column] =
    cols.map(c => graft.functions.BloomBitsAgg.column(
      BloomMeta.positionsColumn(col(c), schema(c).dataType)).as(s"bl_$c"))

  /** Fold the `bl_<c>` results (looked up by `get`) to `m`-bit filters. */
  private def foldBlooms(cols: Seq[String], schema: StructType, m: Int,
                         get: String => Any): Map[String, BloomMeta] =
    cols.map(c => c -> BloomMeta.fold(get(s"bl_$c").asInstanceOf[Array[Byte]], m,
      BloomMeta.domainOf(schema(c).dataType).get)).toMap

  /** Equality point read `c = v`, exact rows (physical columns, so a
    * derived partition column is allowed). Pruning is
    * [[readPrunedConjunction]]'s rule: a group is opened only if its
    * bounds admit `v`, its Bloom filter (if any, in the column's current
    * domain) might hold it, and its partition tuple can. Identifier
    * columns carry a filter on every group a commit wrote; [[buildBlooms]]
    * adds them for others.
    */
  def readWhereEq(c: String, v: Any): DataFrame = {
    require(v != null, "probe value must be non-null (IS NULL can't be bloom-pruned)")
    readPrunedConjunction(Seq(ManagedTable.PruneConjunct(c, Some(v), Some(v))))
      .filter(col(c) === lit(v))
  }

  /** Composite manifest pruning: a scan of the entries that may hold rows
    * matching EVERY conjunct, plus the delete carriers they need
    * ([[conjunctStates]] states the rule). `WHERE k = 5 AND day >= X`
    * prunes multiplicatively instead of by one predicate. `ref` routes the
    * same pruning against a PINNED manifest (snapshot / tag / branch —
    * retained manifests carry the same stats), so a time-travel audit
    * query prunes like a live read.
    *
    * Contract: the result holds a SUPERSET of the rows matching the
    * conjunction and a subset of the snapshot's rows (physical columns) —
    * callers MUST keep the exact predicate on top. A conjunct that cannot
    * evaluate (unknown column, uncastable bound) prunes nothing.
    */
  def readPrunedConjunction(preds: Seq[ManagedTable.PruneConjunct],
                            ref: Option[String] = None): DataFrame = {
    val entries = ref.map(refEntries).getOrElse(currentEntries)
    val (scan, carriers) = prunedSplit(entries, preds)
    morRead(scan, deleteCarriers = carriers)
  }

  /** Entry-set face of [[readPrunedConjunction]]: (scan entries, delete
    * carriers) over a given entry set. An entry's state is the minimum of
    * its per-conjunct [[conjunctStates]]: the intersection of sound
    * per-conjunct supersets is itself sound, since a surviving row passes
    * every conjunct, so every per-conjunct rule keeps both its group and
    * any group that might hide it.
    */
  private def prunedSplit(entries: Seq[ManifestEntry],
                          preds: Seq[ManagedTable.PruneConjunct])
      : (Seq[ManifestEntry], Seq[ManifestEntry]) = {
    lazy val cols = physicalSchema.fieldNames.toSet
    val valid = preds.filter(p =>
      cols.contains(p.c) && (p.lo.isDefined || p.hi.isDefined || p.values.isDefined))
    if (valid.isEmpty) return (entries, Seq.empty)
    val states = valid.map { p =>
      try conjunctStates(entries, p)
      catch { case scala.util.control.NonFatal(_) =>
        entries.map(e => e.path -> 2).toMap } // unevaluable: no pruning
    }
    def st(e: ManifestEntry): Int = states.map(_(e.path)).min
    (entries.filter(st(_) == 2), entries.filter(st(_) == 1))
  }

  // ------------------------------------------------------------- V2 seam
  //
  // Read-only internals for the DSv2 catalog ([[graft.catalog]]). The V2
  // scan plans per-partition-tuple MoR reads straight from the manifest
  // and must see exactly what [[morRead]] sees; everything here is a
  // view — the catalog never mutates table state through it.

  private[graft] def v2SnapshotEntries: Seq[ManifestEntry] = currentEntries
  private[graft] def v2PhysicalSchema: StructType = physicalSchema
  private[graft] def v2SingleEpoch: Boolean = specBoundaries.isEmpty

  /** Spec-epoch boundaries for the V2 reader's epoch-aware delete
    * resolution on multi-epoch keyed tables (epoch of a seq = #boundaries
    * strictly below it — [[entryEpoch]]'s rule, shipped to executors).
    */
  private[graft] def v2EpochBoundaries: Array[Long] = specBoundaries.toArray
  private[graft] def v2HasRenameLineage: Boolean = renameAliases.nonEmpty
  private[graft] def v2HasColumnDefaults: Boolean = columnDefaults.nonEmpty
  private[graft] def v2Format: String = format
  private[graft] def v2TableDir: Path = tableDir
  private[graft] def v2PartitionFields: Seq[PartitionField] = partitionFields

  /** Rename lineage with live-shadowed alias names dropped — the same
    * filter [[scanGroups]] applies before building its read schema.
    */
  private[graft] def v2RenameAliasesLive: Map[String, Seq[String]] = {
    val live = physicalSchema.fieldNames.toSet
    renameAliases.map { case (n, olds) => n -> olds.filterNot(live.contains) }
      .filter(_._2.nonEmpty)
  }

  private[graft] def v2ColumnDefaults: Map[String, (Long, String)] = columnDefaults

  /** Retained manifest at `v`, for the V2 streaming seed batch. */
  private[graft] def v2EntriesAt(v: Long): Option[Seq[ManifestEntry]] =
    Manifest.read(fs, manifestPath(v))

  /** Manifest-level pruning for the V2 pushed-filter path — the same
    * superset-safe split [[readPrunedConjunction]] uses, over the given
    * entry set (current snapshot, or a pinned ref's).
    */
  private[graft] def v2PrunedEntries(preds: Seq[ManagedTable.PruneConjunct],
                                     entries: Seq[ManifestEntry])
      : (Seq[ManifestEntry], Seq[ManifestEntry]) =
    prunedSplit(entries, preds)

  /** Pinned entry set of a snapshot number / tag / branch — V2 time
    * travel and wap-branch routing read through this (same resolution as
    * [[readRef]]).
    */
  private[graft] def v2RefEntries(ref: String): Seq[ManifestEntry] = refEntries(ref)

  /** The manifest pruning rule, for ONE conjunct: each entry's state is
    * 2 (may hold matching rows: scan it), 1 (delete scopes only: a
    * CARRIER, whose rows never surface) or 0 (provably irrelevant).
    *
    * An entry may hold matching rows unless a signal rules it out: its
    * column bounds miss the range, its Bloom filter (equality only) lacks
    * the value, or its partition tuple cannot hold it (monotone transforms
    * of `c`, each epoch's bound transformed by that epoch's own
    * expression — [[tupleRangePred]]). An IN list passes if any value
    * passes all three; lists over 64 values prune nothing. Absent stats,
    * filters or tuple columns never prune, and an uncastable bound skips
    * the tuple test.
    *
    * A failing entry is still a carrier when it is an upsert group whose
    * deletes may hide a row of a passing group:
    *  - a LATER spec epoch than some passing data group: cross-epoch
    *    scopes are global on the identifiers;
    *  - otherwise never when its tuple fails under its own epoch (scopes
    *    are partition-local, and same-epoch groups of that tuple failed
    *    too), nor when `c` is an identifier (no in-range keys, so no
    *    deletes FOR in-range keys);
    *  - else when its tuple holds a passing DATA-BEARING group: on a
    *    non-identifier column an upsert may have moved a key's value out
    *    of range. Posdel sidecars carry no stats and always pass, so
    *    counting them would keep every tuple's upserts on tables with
    *    per-tuple DV chains.
    */
  private def conjunctStates(entries: Seq[ManifestEntry],
                             p: ManagedTable.PruneConjunct): Map[String, Int] = {
    val isId = _meta.identifierFields.contains(p.c)
    // IN lists: the entry passes if ANY value might be present; each
    // value probes as an equality (bounds + Bloom + tuple point). The
    // per-value tuple predicates are built ONCE per conjunct (each costs
    // a local Catalyst eval); oversized lists (> 64 values) stop pruning
    // — the caller's re-applied filter keeps semantics either way.
    def pointTest(v: Any): Option[(Int, Map[String, String]) => Boolean] =
      if (monotoneFieldsOf(p.c).isEmpty) None
      else try Some(tupleRangePred(p.c, Some(v), Some(v)))
      catch { case _: IllegalArgumentException => None }
    // None = cannot prune on this list; Some(tests) = per-value probes
    // (an EMPTY list matches nothing: everything prunes, soundly)
    val inTests: Option[Seq[(Any, Option[(Int, Map[String, String]) => Boolean])]] =
      p.values.map(_.filter(_ != null)) match {
        case Some(vs) if vs.size <= 64 => Some(vs.map(v => v -> pointTest(v)))
        case Some(_)                   => None // oversized: pass-all below
        case None                      => None
      }
    val isIn = p.values.isDefined
    // Bloom probe hashes depend only on the value, not the entry: the
    // probe hashes each value once and masks per filter width, so a
    // 64-value IN over thousands of entries does not re-run the
    // driver-side hash evals per (entry, value) pair on the planning path.
    val probe = new BloomMeta.Probe(physicalSchema(p.c).dataType)
    def eqPass(e: ManifestEntry, v: Any,
               tt: Option[(Int, Map[String, String]) => Boolean]): Boolean =
      e.stats.get(p.c).forall(_.intersects(v, v)) &&
        probe.mightContain(e.blooms.get(p.c), v) &&
        tt.forall(f => f(entryEpoch(e.seq), e.partition))
    val eqVal: Option[Any] = for { l <- p.lo; h <- p.hi; if l == h } yield l
    val tupleTest: Option[(Int, Map[String, String]) => Boolean] =
      if (monotoneFieldsOf(p.c).isEmpty) None
      else try Some(tupleRangePred(p.c, p.lo, p.hi))
      catch { case _: IllegalArgumentException => None } // uncastable bound
    // absence of stats / Bloom / tuple column always passes (cannot prune)
    def boundsPass(e: ManifestEntry) = e.stats.get(p.c).forall(b =>
      b.intersects(p.lo.getOrElse(b.min), p.hi.getOrElse(b.max)))
    def bloomPass(e: ManifestEntry) = eqVal.forall(v =>
      probe.mightContain(e.blooms.get(p.c), v))
    def tuplePass(e: ManifestEntry): Boolean =
      if (isIn) inTests.forall(_.exists { case (_, tt) =>
        tt.forall(f => f(entryEpoch(e.seq), e.partition)) })
      else tupleTest.forall(tt => tt(entryEpoch(e.seq), e.partition))
    def passAll(e: ManifestEntry): Boolean =
      if (isIn) inTests.forall(_.exists { case (v, tt) => eqPass(e, v, tt) })
      else boundsPass(e) && bloomPass(e) && tuplePass(e)
    val dataPassing = entries.filter(e => e.kind != Manifest.PosDel && passAll(e))
    val keptTuples = dataPassing.map(_.partition).toSet
    val minKeptEpoch = dataPassing.map(e => entryEpoch(e.seq)).minOption
      .getOrElse(Int.MaxValue)
    entries.map { e =>
      val s =
        if (passAll(e)) 2
        else if (e.kind != Manifest.Upsert) 0
        else if (entryEpoch(e.seq) > minKeptEpoch) 1
        else if (!tuplePass(e) || isId) 0
        else if (keptTuples.contains(e.partition)) 1
        else 0
      e.path -> s
    }.toMap
  }

  /** Manifest entries a ref read pins — the entry-set face of [[readRef]]
    * (same resolution order: snapshot number, then tag, then branch),
    * feeding ref-pinned pruning.
    */
  private def refEntries(ref: String): Seq[ManifestEntry] = {
    require(ref.nonEmpty, "empty version ref")
    def retained(v: Long) = Manifest.read(fs, manifestPath(v)).getOrElse(
      throw new ManagedTable.RetentionLostException(
        s"no retained manifest for version $v of ${_meta.name}"))
    if (ref.forall(_.isDigit)) retained(ref.toLong)
    else tags().get(ref).map(retained).getOrElse {
      if (branches().contains(ref))
        currentEntries ++ Manifest.read(fs, branchManifestPath(ref)).getOrElse(Seq.empty)
      else throw new IllegalArgumentException(
        s"${_meta.name}: unknown version ref '$ref' — not a snapshot " +
          s"version, tag or branch (tags: " +
          s"${tags().keys.toSeq.sorted.mkString(", ")}; branches: " +
          s"${branches().mkString(", ")})")
    }
  }

  private def morRead(entries: Seq[ManifestEntry], keepSeq: Boolean = false,
                      deleteCarriers: Seq[ManifestEntry] = Seq.empty): DataFrame = {
    if (entries.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        if (keepSeq) StructType(physicalSchema.fields :+ StructField(SeqCol, LongType))
        else physicalSchema)
    val visible = morResolve(entries, deleteCarriers)
      .filter(!coalesce(col(TombstoneCol), lit(false)))
    if (keepSeq) visible.drop(TombstoneCol) else visible.drop(SeqCol, TombstoneCol)
  }

  /** Seq-scoped delete resolution over a set of groups: rows of every
    * group, minus rows hidden by a higher-seq upsert group's keys.
    * Delete scopes are PARTITION-LOCAL: the anti-join matches partition
    * columns null-safely alongside the identifiers, so an upsert group
    * only hides older rows of its own partition tuple (reference parity —
    * partition-granularity delta files) and partition-pruned reads stay
    * consistent with full reads. Upsert groups at the minimum live seq OF
    * THEIR TUPLE are skipped outright (nothing older exists in-tuple for
    * them to hide). Tombstone rows are KEPT (callers filter or re-write
    * them). Columns: physical schema + seq + tombstone.
    */
  /** Rename lineage from `schema.renamed.<current>` properties: current
    * column name → the prior names old file groups may carry.
    */
  private def renameAliases: Map[String, Seq[String]] =
    _meta.properties.collect {
      case (k, v) if k.startsWith(ManagedTable.RenamedPrefix) =>
        k.stripPrefix(ManagedTable.RenamedPrefix) ->
          v.split(",").toSeq.filter(_.nonEmpty)
    }.filter { case (n, _) => _meta.schema.fieldNames.contains(n) }

  /** Initial defaults from `schema.default.<name>` = "<version>:<literal>":
    * applied at read to rows written BEFORE the column existed (per-row
    * seq <= the add-time version) — Iceberg's initial-default semantics.
    */
  private def columnDefaults: Map[String, (Long, String)] =
    _meta.properties.collect {
      case (k, v) if k.startsWith(ManagedTable.DefaultPrefix) =>
        val i = v.indexOf(':')
        k.stripPrefix(ManagedTable.DefaultPrefix) -> (v.take(i).toLong, v.drop(i + 1))
    }.filter { case (n, _) => _meta.schema.fieldNames.contains(n) }

  /** Scan a set of file groups under the CURRENT schema, resolving rename
    * lineage and initial defaults without rewriting a byte: the read
    * schema carries each renamed column's prior names as extra nullable
    * fields (parquet by-name projection fills whichever the file has),
    * and the returned projection folds them with coalesce and applies
    * seq-gated defaults. Returns the raw scan (metadata columns intact
    * for the posdel anti-join) plus the projection to apply after.
    */
  private def scanGroups(paths: Seq[String]): (DataFrame, DataFrame => DataFrame) = {
    // lineage names shadowed by a live column are unreadable as aliases
    // (one field name, one slot in the read schema) — [[addColumn]]
    // refuses creating that state; filtering here keeps stale metadata
    // from breaking the scan regardless
    val live = physicalSchema.fieldNames.toSet
    val aliases = renameAliases
      .map { case (n, olds) => n -> olds.filterNot(live.contains) }
      .filter(_._2.nonEmpty)
    val defaults = columnDefaults
    val aliasFields = aliases.toSeq.flatMap { case (n, olds) =>
      olds.map(o => StructField(o, physicalSchema(n).dataType, nullable = true)) }
    val readSchema = StructType(physicalSchema.fields ++ aliasFields :+
      StructField(SeqCol, LongType, nullable = false) :+
      StructField(TombstoneCol, BooleanType, nullable = true))
    // Adopted file groups ([[addFiles]]) carry no per-row seq column — the
    // commit sequence is recovered from the group DIRECTORY name (encoded
    // by [[groupRel]]) via the file-path metadata column. Native groups
    // always carry the column, so the regex evaluates only for adopted
    // rows (coalesce short-circuits in codegen). Metadata columns resolve
    // through the projection stack, so the posdel anti-join's later
    // `_metadata` references are unaffected.
    val scanned = spark.read.schema(readSchema).format(format).load(paths: _*)
      .withColumn(SeqCol, coalesce(col(SeqCol),
        regexp_extract(col("_metadata.file_path"),
          ManagedTable.GroupSeqPattern, 2).cast(LongType)))
    val project = (df: DataFrame) => {
      val folded = aliases.foldLeft(df) { case (d, (n, olds)) =>
        d.withColumn(n, coalesce((col(n) +: olds.map(col)): _*)).drop(olds: _*)
      }
      val defaulted = defaults.foldLeft(folded) { case (d, (n, (v, s))) =>
        d.withColumn(n, when(col(SeqCol) <= v && col(n).isNull,
          lit(s).cast(physicalSchema(n).dataType)).otherwise(col(n)))
      }
      defaulted.select((physicalSchema.fieldNames :+ SeqCol :+ TombstoneCol)
        .map(col).toIndexedSeq: _*)
    }
    (scanned, project)
  }

  /** `deleteCarriers`: upsert entries whose ROWS are not part of the scan
    * but whose files still feed the delete side — pruned reads on
    * multi-epoch tables keep later-epoch upsert groups this way (their
    * global cross-epoch scopes may hide kept rows) without surfacing
    * their rows. Not combined with posdel sidecars (unpartitioned-only).
    */
  /** One [[graft.functions.PosDelIndex]] broadcast per distinct sidecar
    * set: repeated reads of the same snapshot (and every query stage of
    * one read) reuse the built index instead of re-collecting the pair
    * files. Keyed by the sorted sidecar paths, so time travel and
    * changelog subsets get their own entries and a new commit naturally
    * misses.
    */
  @transient private var posdelIndexCache
      : (Seq[String], org.apache.spark.broadcast.Broadcast[graft.functions.PosDelIndex]) = null

  private def posdelIndexFor(posdels: Seq[ManifestEntry])
      : org.apache.spark.broadcast.Broadcast[graft.functions.PosDelIndex] = synchronized {
    val key = posdels.map(_.path).sorted
    if (posdelIndexCache != null && posdelIndexCache._1 == key) posdelIndexCache._2
    else {
      val rows = spark.read.schema(ManagedTable.PosDelSchema).format(format)
        .load(posdels.map(e => new Path(tableDir, e.path).toString): _*)
        .collect()
      val idx = graft.functions.PosDelIndex.build(
        rows.iterator.map(r => (r.getString(0), r.getLong(1))).toSeq)
      val bc = spark.sparkContext.broadcast(idx)
      // Release the superseded index's executor copies — a long-running
      // trickle reader with posdel-on-commit would otherwise leak one
      // broadcast per commit. unpersist (not destroy): a retained
      // DataFrame from an older read may still lazily evaluate against
      // the old broadcast, which re-fetches from the driver on demand.
      if (posdelIndexCache != null) posdelIndexCache._2.unpersist(false)
      posdelIndexCache = (key, bc)
      bc
    }
  }

  private def morResolve(entries: Seq[ManifestEntry],
                         deleteCarriers: Seq[ManifestEntry] = Seq.empty): DataFrame = {
    // A posdel sidecar at seq S has already materialized every equality
    // scope <= S into (file, pos) pairs: apply it as one fixed-width
    // anti-join and keep only the scopes ABOVE it on the equality path.
    // Sound on manifest SUBSETS too (pruned scans, changelog ranges):
    // pairs for files outside the subset match nothing, and a subset that
    // includes the sidecar is always a seq-suffix, so the scopes the
    // sidecar replaces are exactly the in-subset scopes <= S.
    val posdels = entries.filter(_.kind == Manifest.PosDel)
    val dataEntries = entries.filterNot(_.kind == Manifest.PosDel)
    // sidecars alone hold no rows: a pruned read whose only survivors are
    // posdel sidecars is empty
    if (dataEntries.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(physicalSchema.fields :+ StructField(SeqCol, LongType) :+
          StructField(TombstoneCol, BooleanType)))
    // Chain coverage is PER PARTITION TUPLE (partitioned sidecars, round
    // 6): a sidecar with tuple T at seq S asserts every equality scope of
    // tuple T at seq ≤ S is materialized — scopes are partition-local on
    // the single-epoch tables sidecars are restricted to, so tuples'
    // chains advance independently. Unpartitioned tables degenerate to
    // the original global rule (every entry carries the empty tuple).
    val appliedByTuple = posdels.groupBy(_.partition)
      .map { case (t, es) => t -> es.map(_.seq).max }
    def appliedFor(t: Map[String, String]): Long =
      appliedByTuple.getOrElse(t, Long.MinValue)
    val allPaths = dataEntries.map(e => new Path(tableDir, e.path).toString)
    val (scanned, evolveProjection) = scanGroups(allPaths)
    val knownPairRows =
      if (posdels.forall(_.rows >= 0L)) Some(posdels.map(_.rows).sum) else None
    val inlineMax = _meta.properties
      .getOrElse("read.posdel.inline-max-rows", "1000000").toLong
    val data0 =
      if (posdels.isEmpty || knownPairRows.contains(0L)) scanned
      else if (knownPairRows.exists(_ <= inlineMax)) {
        // In-scan application (the Iceberg DV reader's shape): the pairs
        // are PROVEN metadata-scale by the manifest's per-sidecar row
        // counts, so they collapse into one broadcast per-file position
        // index and each scan task filters rows with a codegen probe —
        // per-split cursor warm-up, then a primitive binary search per
        // row. An anti-join here pays a per-row string-keyed hash probe
        // that costs more than the trickle deletes it applies.
        import org.apache.spark.sql.graftbridge.GraftBridge
        val bc = posdelIndexFor(posdels)
        scanned.where(!GraftBridge.column(graft.functions.PositionHidden(
          GraftBridge.expression(col("_metadata.file_path")),
          GraftBridge.expression(col("_metadata.row_index")), bc)))
      } else {
        val withMeta = scanned
          .withColumn(PosFileCol, col("_metadata.file_path"))
          .withColumn(PosIdxCol, col("_metadata.row_index"))
        val pairs = spark.read.schema(ManagedTable.PosDelSchema).format(format)
          .load(posdels.map(e => new Path(tableDir, e.path).toString): _*)
        withMeta.join(pairs,
          withMeta(PosFileCol) === pairs("file") && withMeta(PosIdxCol) === pairs("pos"),
          "left_anti").drop(PosFileCol, PosIdxCol)
      }
    // rename aliases folded + version-gated defaults applied, AFTER the
    // positional anti-join (which needs the raw scan's metadata columns)
    val data = evolveProjection(data0)
    val ids = _meta.identifierFields
    // Delete-carrier selection, epoch-aware: a group can be skipped only
    // if NOTHING older exists for it to hide — no smaller-seq entry of the
    // same (tuple, epoch), and no entry from an earlier spec epoch at all
    // (cross-epoch scopes are global). Single-epoch tables reduce to the
    // original per-tuple min-seq skip.
    val minSeqByTE = dataEntries.groupBy(e => (e.partition, entryEpoch(e.seq)))
      .map { case (k, es) => k -> es.map(_.seq).min }
    val minEpochPresent = dataEntries.map(e => entryEpoch(e.seq)).min
    val delEntries = dataEntries.filter { e =>
      e.kind == Manifest.Upsert && e.seq > appliedFor(e.partition) && {
        val ep = entryEpoch(e.seq)
        e.seq > minSeqByTE((e.partition, ep)) || ep > minEpochPresent
      }
    } ++ deleteCarriers
    if (delEntries.isEmpty || ids.isEmpty) data
    else {
      val pcolsAll = allEpochPartitionFields.map(_.name).filterNot(ids.contains)
      val delCols = ids ++ pcolsAll
      val pkSchema = StructType(
        delCols.map(n => physicalSchema(n).copy(nullable = !ids.contains(n))) :+
          StructField(SeqCol, LongType, nullable = false))
      val dels = spark.read.schema(pkSchema).format(format)
        .load(delEntries.map(e => new Path(tableDir, e.path).toString): _*)
        .select(delCols.map(n => col(n).as(s"__del_$n")) :+ col(SeqCol).as(DelSeqCol): _*)
      val idCond = ids.map(n => data(n) === dels(s"__del_$n")).reduce(_ && _) &&
        dels(DelSeqCol) > data(SeqCol)
      // Partition scope: same-epoch pairs match on THAT epoch's partition
      // columns (other epochs' derived cols are null on both sides and
      // identity cols must not leak in — hence per-epoch column sets);
      // cross-epoch pairs skip the partition test (global scope).
      val scope =
        if (specBoundaries.isEmpty) {
          val pc = pcolsAll.map(n => data(n) <=> dels(s"__del_$n"))
          if (pc.isEmpty) lit(true) else pc.reduce(_ && _)
        } else {
          def epochE(c: org.apache.spark.sql.Column) =
            specBoundaries.foldLeft(lit(0))((a, b) =>
              a + when(c > b, 1).otherwise(lit(0)))
          val de = epochE(dels(DelSeqCol))
          val re = epochE(data(SeqCol))
          epochSpecs.indices.foldRight(lit(true)) { (i, acc) =>
            val pc = epochPartitionFields(i).map(_.name).filterNot(ids.contains)
              .map(n => data(n) <=> dels(s"__del_$n"))
            val m = if (pc.isEmpty) lit(true) else pc.reduce(_ && _)
            when(de === i && re === i, m).otherwise(acc)
          }
        }
      data.join(dels, idCond && scope, "left_anti")
    }
  }

  /** Minor compaction: fold every upsert group ABOVE the minimum live
    * sequence (the trickle suffix) into ONE upsert group at the highest
    * folded seq, resolving their internal seq-scoped deletes and KEEPING
    * tombstones — which must go on hiding base rows. The base (min-seq)
    * groups are never read or rewritten, so the cost is O(accumulated
    * trickle), not O(table): this is what the auto-compact threshold
    * triggers on a 100 TB table, where a full fold per 32 batches would
    * re-write terabytes. A full [[compact]] (which drops tombstones and
    * delete scopes entirely) resets the accumulation. Returns (groups
    * before, after) for the trickle set.
    */
  def compactMinor(): (Int, Int) = {
    val entries = currentEntries
    if (entries.isEmpty) return (0, 0)
    val minSeqByTuple = entries.groupBy(e => (e.partition, entryEpoch(e.seq)))
      .map { case (k, es) => k -> es.map(_.seq).min }
    val minEpochPresent = entries.map(e => entryEpoch(e.seq)).min
    val allTrickles = entries.filter(e =>
      e.kind == Manifest.Upsert &&
        (e.seq > minSeqByTuple((e.partition, entryEpoch(e.seq))) ||
          entryEpoch(e.seq) > minEpochPresent))
    // fold only tuples with >= 2 trickle groups (a 1-group tuple fold
    // would be a pure rewrite with no read-amplification payoff).
    // Multi-epoch tables fold only CURRENT-epoch groups: writing an
    // old-epoch fold under the current spec would mislabel its tuple
    // (old-epoch trickle is frozen anyway — no new commits land there —
    // and a full compact() normalizes everything to the current spec).
    val foldable = allTrickles
      .filter(e => entryEpoch(e.seq) == currentEpoch)
      .groupBy(_.partition).filter(_._2.size >= 2)
    if (foldable.isEmpty) return (allTrickles.size, allTrickles.size)
    val folded = foldable.values.flatten.toSeq
    // KEEP each row's original per-row seq: re-stamping the fold at maxSeq
    // would widen every row's delete scope and hide data-group rows whose
    // seq lies between the row's true upsert seq and maxSeq (delete
    // resolution compares PER-ROW seqs — only the entry-level seq, used
    // for manifest filtering, moves to maxSeq). A maintenance fold must
    // never change the visible table state.
    val resolved = morResolve(folded)
    val newEntries =
      if (isPartitioned) {
        val maxByTuple = foldable.map { case (p, es) => p -> es.map(_.seq).max }
        val fallback = folded.map(_.seq).max
        splitWriteGroups(resolved, Manifest.Upsert,
          t => maxByTuple.getOrElse(t, fallback), fallback)
      } else
        writeGroup(sortForWrite(resolved), Manifest.Upsert, folded.map(_.seq).max).toSeq
    commitManifest(entries.filterNot(folded.contains) ++ newEntries)
    (allTrickles.size, allTrickles.size - folded.size + newEntries.size)
  }

  /** Maintenance: materialize the live equality-delete scopes into a
    * positional-delete sidecar — `(file, pos)` pairs naming every hidden
    * row — committed as a `posdel` manifest entry whose seq records the
    * highest scope it absorbed. Reads then anti-join the fixed-width
    * sidecar and only evaluate equality scopes committed AFTER it
    * (see [[morResolve]]); the Iceberg rewrite-position-deletes / DV
    * analogue (reference format-v3 default,
    * IcebergTableWriterFactory.java:98-99).
    *
    * The maintenance ladder this completes: [[compactMinor]] bounds the
    * delete-side group COUNT by REWRITING the trickle suffix; this resets
    * the equality side entirely for one table SCAN while writing only the
    * tiny sidecar — zero data-row write amplification; [[compact]]
    * rewrites the data. Measured (1M-row base, 40×5k-row trickle merges,
    * local[8]): reads drop ~0.7 s → ~0.5 s vs the accumulated 40-group
    * equality side, and land within noise of a minor-compacted equality
    * side — so prefer this over [[compactMinor]] when rewrite bandwidth
    * is the constraint, and [[compactMinor]] when narrow integer keys
    * make the folded equality probe cheapest. Re-running folds the old
    * sidecar into the new one (pairs whose files a fold rewrote match
    * nothing and are dropped).
    *
    * Partitioned tables (round 7): per-tuple scopes on a SINGLE-epoch
    * table are partition-local — exactly the precondition the
    * unpartitioned algorithm exploits — so the materialization runs once
    * PER TOUCHED TUPLE (a tuple with an unabsorbed live scope), each pass
    * reading only that tuple's groups and writing a tuple-carrying
    * sidecar. This is the recovery path for a broken per-tuple DV chain
    * (mode enabled mid-life, caps exceeded): cost ∝ the touched tuples'
    * sidecar data, not a [[compact]]-scale table rewrite. A possibly-empty
    * sidecar is always committed for a touched tuple — the chain invariant
    * needs every scope ≤ S accounted for before [[posdelOnCommit]] may
    * resume.
    *
    * MULTI-epoch partitioned tables (round 8): each tuple's scopes split
    * into their EPOCH-LOCAL role (hide same-tuple, same-epoch older rows
    * — the round-7 shape) and their CROSS-EPOCH role (global-on-ids:
    * hide matching rows in ANY strictly earlier epoch's groups, any
    * tuple). Both roles materialize into the tuple's ONE sidecar
    * ([[hiddenPairsEpochAware]]), so the per-tuple chain bookkeeping is
    * unchanged; cross-epoch candidate groups are pruned on manifest
    * identifier BOUNDS before any file opens (the [[posdelOnCommit]]
    * probe's bounds tier), so the cross pass costs O(bounds-matching
    * groups), not O(earlier epochs). Cross-TUPLE pairs inside a tuple's
    * sidecar stay sound on partition-pruned reads: sidecars carry no
    * stats (every pruned scan keeps them — pairs for unscanned files
    * match nothing), and a subset that DROPS the scope's tuple re-applies
    * its equality scope through [[readPartitions]]'s delete
    * carriers. [[compact]] remains the recovery that also normalizes the
    * spec; this one recovers WITHOUT the data rewrite. Returns the number
    * of materialized pairs.
    */
  def materializePositionalDeletes(): Long = {
    val ids = _meta.identifierFields
    if (!isPartitioned) {
      require(allEpochPartitionFields.isEmpty,
        "positional-delete sidecars need a never-partitioned table: prior " +
          "spec epochs leave partition-scoped equality deletes the sidecar's " +
          "id-only materialization would over-apply (run compact() first)")
      val entries = currentEntries
      val posdels = entries.filter(_.kind == Manifest.PosDel)
      val dataEntries = entries.filterNot(_.kind == Manifest.PosDel)
      val sOld = if (posdels.isEmpty) Long.MinValue else posdels.map(_.seq).max
      val minSeq = dataEntries.map(_.seq).minOption.getOrElse(Long.MinValue)
      val scopes = dataEntries.filter(e =>
        e.kind == Manifest.Upsert && e.seq > minSeq && e.seq > sOld)
      if ((scopes.isEmpty && posdels.isEmpty) || ids.isEmpty) return 0L
      val sNew = (scopes.map(_.seq) :+ sOld).max
      val allPairs = hiddenPairs(dataEntries, posdels, scopes)
      val n = allPairs.count()
      // a zero-pair result (scopes that hide nothing) still commits the
      // sidecar: the chain invariant ("every scope ≤ S materialized") is
      // what lets posdelOnCommit resume — dropping the sidecar here would
      // leave the chain permanently broken and the maintenance tier
      // re-planning hot forever (same convention as the per-tuple branch
      // and the per-commit empty sidecars)
      val rel = s"files/${Manifest.PosDel}-$sNew-${java.util.UUID.randomUUID().toString.take(8)}"
      val dir = new Path(tableDir, rel)
      if (n == 0 && format == "parquet") {
        fs.mkdirs(dir)
        LocalCommit.writeParquet(spark, new Path(dir, "part-00000.parquet"),
          ManagedTable.PosDelSchema, Seq.empty)
      } else allPairs.repartition(1).write.mode("overwrite").format(format)
        .save(dir.toString)
      commitManifest(dataEntries :+ stampFiles(ManifestEntry(rel, Manifest.PosDel, sNew, rows = n)))
      n
    } else {
      if (ids.isEmpty) return 0L
      val entries = currentEntries
      val posdels = entries.filter(_.kind == Manifest.PosDel)
      val dataEntries = entries.filterNot(_.kind == Manifest.PosDel)
      val minEpochPresent = dataEntries.map(e => entryEpoch(e.seq))
        .minOption.getOrElse(0)
      val minSeqByTE = dataEntries.groupBy(e => (e.partition, entryEpoch(e.seq)))
        .map { case (k, es) => k -> es.map(_.seq).min }
      // touched = tuples with at least one live scope above their applied
      // watermark; untouched tuples keep their sidecars (and their
      // chains). Scope-ness is [[morResolve]]'s epoch-aware rule: above
      // the per-(tuple, epoch) minimum, or from a later epoch than the
      // oldest present (its global scope can hide earlier-epoch rows even
      // at its own tuple-epoch minimum).
      val touched = dataEntries.groupBy(_.partition).toSeq
        .sortBy(_._1.toString).flatMap { case (tuple, tEntries) =>
          val tApplied = posdels.filter(_.partition == tuple)
            .map(_.seq).maxOption.getOrElse(Long.MinValue)
          val scopes = tEntries.filter(e =>
            e.kind == Manifest.Upsert && e.seq > tApplied &&
              (e.seq > minSeqByTE((e.partition, entryEpoch(e.seq))) ||
                entryEpoch(e.seq) > minEpochPresent))
          if (scopes.isEmpty) None else Some((tuple, tEntries, scopes, tApplied))
        }
      if (touched.isEmpty) return 0L
      var total = 0L
      val maxLocal = 100000
      // Old-pair liveness against earlier-epoch files is TUPLE-INDEPENDENT:
      // materialize that file list once across all touched tuples instead
      // of rescanning the earlier epochs per tuple (K touched tuples would
      // otherwise pay K scans of the same old groups).
      lazy val earlierEpochFiles: DataFrame = {
        val es = dataEntries.filter(e => entryEpoch(e.seq) < currentEpoch)
        if (es.isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
            StructType(Seq(StructField("file", StringType, nullable = true))))
        else spark.read.format(format)
          .load(es.map(e => new Path(tableDir, e.path).toString): _*)
          .select(col("_metadata.file_path").as("file")).distinct()
          .localCheckpoint(true)
      }
      val newSidecars = touched.map { case (tuple, tEntries, scopes, tApplied) =>
        val sNew = (scopes.map(_.seq) :+ tApplied).max
        val pairs = hiddenPairsEpochAware(tEntries, dataEntries,
          posdels.filter(_.partition == tuple), scopes, minEpochPresent,
          earlierEpochFiles)
        val rel = s"files/${Manifest.PosDel}-$sNew-${java.util.UUID.randomUUID().toString.take(8)}"
        val dir = new Path(tableDir, rel)
        // small sidecars (the common case: one tuple's hidden rows) are
        // collected once and written driver-side — one job per tuple, no
        // separate count + write
        val collected = pairs.limit(maxLocal + 1).collect()
        if (collected.length <= maxLocal && format == "parquet") {
          fs.mkdirs(dir)
          LocalCommit.writeParquet(spark, new Path(dir, "part-00000.parquet"),
            ManagedTable.PosDelSchema, collected.toSeq)
          total += collected.length
          stampFiles(ManifestEntry(rel, Manifest.PosDel, sNew, partition = tuple,
            rows = collected.length.toLong))
        } else {
          // oversized: ONE pairs computation (the write), then a
          // footer-only count of the written file — never a second join
          pairs.repartition(1).write.mode("overwrite").format(format).save(dir.toString)
          val n = spark.read.format(format).load(dir.toString).count()
          total += n
          stampFiles(ManifestEntry(rel, Manifest.PosDel, sNew, partition = tuple, rows = n))
        }
      }
      val touchedTuples = touched.map(_._1).toSet
      commitManifest(entries.filterNot(e =>
        e.kind == Manifest.PosDel && touchedTuples(e.partition)) ++ newSidecars)
      total
    }
  }

  /** The shared core of both materializer paths: the `(file, pos)` pairs
    * of rows in `dataEntries` hidden by the equality `scopes` (the SEMI
    * twin of [[morResolve]]'s anti-join — callers guarantee the scopes are
    * id-resolvable against exactly these groups: globally for a
    * never-partitioned table, per-tuple for a single-epoch partitioned
    * one), unioned with the still-live pairs of `oldPosdels`. Liveness is
    * an equi-join against the current scan's distinct file paths — both
    * sides are `_metadata.file_path` strings, so the comparison can never
    * suffer a path-qualification format drift; pairs for files a
    * compaction rewrote match nothing and drop out.
    */
  private def hiddenPairs(dataEntries: Seq[ManifestEntry],
                          oldPosdels: Seq[ManifestEntry],
                          scopes: Seq[ManifestEntry]): DataFrame = {
    val ids = _meta.identifierFields
    val readSchema = StructType(physicalSchema.fields :+
      StructField(SeqCol, LongType, nullable = false) :+
      StructField(TombstoneCol, BooleanType, nullable = true))
    val scan = spark.read.schema(readSchema).format(format)
      .load(dataEntries.map(e => new Path(tableDir, e.path).toString): _*)
      .select(Seq(col("_metadata.file_path").as("file"),
        col("_metadata.row_index").as("pos")) ++ ids.map(col) :+
        // adopted groups: per-row seq recovered from the dir name, exactly
        // as the main scan does ([[scanGroups]])
        coalesce(col(SeqCol), regexp_extract(col("_metadata.file_path"),
          ManagedTable.GroupSeqPattern, 2).cast(LongType)).as(SeqCol): _*)
    val newHidden =
      if (scopes.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        ManagedTable.PosDelSchema)
      else {
        val pkSchema = StructType(
          ids.map(n => physicalSchema(n)) :+ StructField(SeqCol, LongType, nullable = false))
        val dels = spark.read.schema(pkSchema).format(format)
          .load(scopes.map(e => new Path(tableDir, e.path).toString): _*)
          .select(ids.map(n => col(n).as(s"__del_$n")) :+ col(SeqCol).as(DelSeqCol): _*)
        val s = scan
        val cond = ids.map(n => s(n) === dels(s"__del_$n")).reduce(_ && _) &&
          dels(DelSeqCol) > s(SeqCol)
        s.join(dels, cond, "left_semi").select(col("file"), col("pos"))
      }
    val oldPairs =
      if (oldPosdels.isEmpty) newHidden.limit(0)
      else {
        val pairs = spark.read.schema(ManagedTable.PosDelSchema).format(format)
          .load(oldPosdels.map(e => new Path(tableDir, e.path).toString): _*)
        pairs.join(scan.select("file").distinct(), Seq("file"), "left_semi")
      }
    newHidden.unionByName(oldPairs).distinct()
  }

  /** [[hiddenPairs]] for one TUPLE of a (possibly multi-epoch)
    * partitioned table (round 8): the tuple's scopes hide
    *  - EPOCH-LOCAL: same-tuple rows of the scope's own epoch at lower
    *    seq (partition-local semantics — the scan is restricted to the
    *    tuple's same-epoch groups, so ids + seq express it exactly), and
    *  - CROSS-EPOCH: rows with matching ids in ANY strictly earlier
    *    epoch's groups, any tuple (global scope). Candidates prune on
    *    manifest identifier bounds before any file opens; the join gates
    *    on per-row epochs so an epoch-1 scope never hides an epoch-1 row
    *    of another tuple.
    * Old pairs re-emit against the files the sidecar can ever have named
    * (the tuple's own plus every earlier-epoch group — the latter's
    * distinct file list comes in as `earlierFiles`, materialized ONCE by
    * the caller across every touched tuple). Single-epoch tables take
    * [[hiddenPairs]] unchanged.
    */
  private def hiddenPairsEpochAware(tEntries: Seq[ManifestEntry],
                                    allData: Seq[ManifestEntry],
                                    oldPosdels: Seq[ManifestEntry],
                                    scopes: Seq[ManifestEntry],
                                    minEpochPresent: Int,
                                    earlierFiles: => DataFrame): DataFrame = {
    if (specBoundaries.isEmpty)
      return hiddenPairs(tEntries, oldPosdels, scopes)
    val ids = _meta.identifierFields
    val readSchema = StructType(physicalSchema.fields :+
      StructField(SeqCol, LongType, nullable = false) :+
      StructField(TombstoneCol, BooleanType, nullable = true))
    def scanOf(es: Seq[ManifestEntry]): DataFrame = spark.read
      .schema(readSchema).format(format)
      .load(es.map(e => new Path(tableDir, e.path).toString): _*)
      .select(Seq(col("_metadata.file_path").as("file"),
        col("_metadata.row_index").as("pos")) ++ ids.map(col) :+
        coalesce(col(SeqCol), regexp_extract(col("_metadata.file_path"),
          ManagedTable.GroupSeqPattern, 2).cast(LongType)).as(SeqCol): _*)
    def delsOf(es: Seq[ManifestEntry]): DataFrame = {
      val pkSchema = StructType(
        ids.map(n => physicalSchema(n)) :+ StructField(SeqCol, LongType, nullable = false))
      spark.read.schema(pkSchema).format(format)
        .load(es.map(e => new Path(tableDir, e.path).toString): _*)
        .select(ids.map(n => col(n).as(s"__del_$n")) :+ col(SeqCol).as(DelSeqCol): _*)
    }
    def epochOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      specBoundaries.foldLeft(lit(0))((a, b) => a + when(c > b, 1).otherwise(lit(0)))
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      ManagedTable.PosDelSchema)
    // epoch-local pass, per scope epoch
    val localParts = scopes.groupBy(e => entryEpoch(e.seq)).toSeq.sortBy(_._1)
      .flatMap { case (ep, sc) =>
        val same = tEntries.filter(e => entryEpoch(e.seq) == ep)
        if (same.isEmpty) None
        else {
          val s = scanOf(same); val d = delsOf(sc)
          Some(s.join(d,
            ids.map(n => s(n) === d(s"__del_$n")).reduce(_ && _) &&
              d(DelSeqCol) > s(SeqCol) &&
              epochOf(d(DelSeqCol)) === epochOf(s(SeqCol)),
            "left_semi").select(col("file"), col("pos")))
        }
      }
    // cross-epoch pass: one join over the bounds-matching earlier-epoch
    // candidates, epoch-gated per pair
    val crossScopes = scopes.filter(e => entryEpoch(e.seq) > minEpochPresent)
    val crossPart =
      if (crossScopes.isEmpty) None
      else {
        val maxEp = crossScopes.map(e => entryEpoch(e.seq)).max
        val candidates = allData.filter { e =>
          entryEpoch(e.seq) < maxEp && crossScopes.exists { sc =>
            ids.forall { c =>
              (e.stats.get(c), sc.stats.get(c)) match {
                case (Some(cb), Some(sb)) => cb.intersects(sb.min, sb.max)
                case _ => true // missing stats: never prune on doubt
              }
            }
          }
        }
        if (candidates.isEmpty) None
        else {
          val s = scanOf(candidates); val d = delsOf(crossScopes)
          Some(s.join(d,
            ids.map(n => s(n) === d(s"__del_$n")).reduce(_ && _) &&
              d(DelSeqCol) > s(SeqCol) &&
              epochOf(d(DelSeqCol)) > epochOf(s(SeqCol)),
            "left_semi").select(col("file"), col("pos")))
        }
      }
    val oldPairs =
      if (oldPosdels.isEmpty) None
      else {
        val liveFiles = scanOf(tEntries).select("file").distinct()
          .unionByName(earlierFiles).distinct()
        val pairs = spark.read.schema(ManagedTable.PosDelSchema).format(format)
          .load(oldPosdels.map(e => new Path(tableDir, e.path).toString): _*)
        Some(pairs.join(liveFiles, Seq("file"), "left_semi"))
      }
    (localParts ++ crossPart ++ oldPairs)
      .foldLeft(empty)(_ unionByName _).distinct()
  }

  /** W1/W2 — append. Batch is conformed to the table schema (R4), hash-
    * distributed by partition expression (write.distribution-mode=hash
    * analogue) and sorted by identifier fields within files (D5).
    */
  def append(batch: DataFrame): Unit = append(batch, Map.empty)

  /** Append with `commitProperties` folded into the SAME commit's pointer
    * flip — the idempotent-replay marker pattern: a streaming sink stamps
    * its batch id into the commit it lands, so a replayed `foreachBatch`
    * (crash between table commit and checkpoint commit) can detect the
    * batch already landed and skip it. Works on every table — partitioned
    * commits go through the same manifest + pointer-flip protocol.
    */
  def append(batch: DataFrame, commitProperties: Map[String, String]): Unit = {
    // Optimistic commit retry on a LOST RACE (the Iceberg commit-retry
    // analogue, `commit.retry-num`, default 10, 0 = off): reload the
    // on-disk state and RE-RUN the staged write from scratch. Appends
    // conflict with nothing semantically — only the pointer CAS can lose
    // — so concurrent appenders all land without caller-side retry
    // loops. The redo is a full re-stage rather than Iceberg's
    // metadata-only rebase because commit seqs are baked into rows at
    // write time: re-pointing the old group at a new version would
    // desync entry seq from row seq and silently break the changelog
    // range contract ([[readChangesBetween]] filters on entry seq).
    // Redo is correct under EVERY interleaving — it is exactly the
    // documented reload-and-retry, automated — and the lost attempt's
    // staged groups are unreferenced debris the next commit GCs. NOTE:
    // the batch plan re-executes on retry; a nondeterministic source
    // (sampling without a seed) should set commit.retry-num=0 or
    // materialize first.
    val retries = _meta.properties.getOrElse("commit.retry-num", "10").toInt
    var attempt = 0
    while (true) {
      // stage the properties into the handle only for the duration of
      // this commit attempt: a failed write must not leak them into a
      // LATER commit (they'd claim a batch landed that never did)
      val prevMeta = _meta
      if (commitProperties.nonEmpty)
        _meta = _meta.copy(properties = _meta.properties ++ commitProperties)
      // a raced manifest GC reads as IllegalStateException (the reloaded
      // version's manifest vanished because OTHER writers advanced the
      // pointer past retention between our reload and our base read) —
      // only a genuine concurrency signal when the pointer moved, so
      // gate the retry on that
      def pointerMoved: Boolean =
        TableMeta.read(fs, tableDir).exists(_.currentVersion > prevMeta.currentVersion)
      try { appendStaged(batch); return }
      catch {
        case e @ (_: java.util.ConcurrentModificationException |
                  _: java.lang.IllegalStateException)
            if attempt < retries &&
              (e.isInstanceOf[java.util.ConcurrentModificationException] || pointerMoved) =>
          TableMeta.read(fs, tableDir) match {
            case Some(onDisk) =>
              // EXACTLY-ONCE guard: callers that pass replay markers do
              // check-then-append (read the marker, append only if new).
              // If the conflicting commit already moved any of OUR marker
              // keys, a blind re-stage would land the same batch twice —
              // surface the conflict so the caller re-runs its check.
              val markerMoved = commitProperties.keys.exists(k =>
                onDisk.properties.get(k) != prevMeta.properties.get(k))
              if (markerMoved) { _meta = prevMeta; throw e }
              _meta = onDisk
            case None => _meta = prevMeta; throw e
          }
          attempt += 1
          // brief jittered backoff: the loser typically re-collides with
          // the winner's still-held claim if it turns around instantly
          Thread.sleep(25L * attempt + scala.util.Random.nextInt(50))
        case t: Throwable => _meta = prevMeta; throw t
      }
    }
  }

  private def appendStaged(batch: DataFrame): Unit = labeled("append") {
    // MoR: new immutable data group(s) + manifest commit — the live
    // snapshot is never mutated (a failed append leaves unreferenced
    // groups, invisible to readers and swept by the next commit's GC).
    val conformed = EventDecoder.conformTo(batch, _meta.schema, temporalMode)
    val seq = _meta.currentVersion + 1
    val entries =
      if (isPartitioned)
        splitWriteGroups(withPartitionCols(conformed), Manifest.Data, _ => seq, seq)
      else writeGroupAuto(sortForWrite(conformed), Manifest.Data, seq).toSeq
    commitManifest(currentEntries ++ entries)
  }

  /** Adopt existing parquet files into this table as ONE data commit —
    * WITHOUT rewriting a byte of data (the Iceberg `add_files` migration
    * path: at 100 TB, re-hosting an existing parquet lake as managed
    * tables must be a metadata operation, not a multi-day rewrite). The
    * files are MOVED into the table's file-group layout (a same-FS rename
    * per file — metadata-only; set `copy = true` to leave the sources
    * untouched at the cost of one byte copy), registered as a normal
    * data-kind group through the group → manifest → pointer protocol, and
    * from then on participate in every table mechanism: snapshots, time
    * travel, GC, retention, compaction, upsert hiding, bounds pruning.
    *
    * Adopted files carry no per-row commit-seq column; readers recover
    * the sequence from the group directory name (see `GroupSeqPattern`),
    * so adopted rows order exactly as rows appended at this commit — an
    * upsert in a LATER commit hides matching adopted keys, earlier
    * history is untouched.
    *
    * Semantics = [[append]]: the adopted rows assert nothing about
    * existing keys (adopting a key that already exists leaves both rows
    * visible — merge or dedup afterwards if key spaces overlap).
    *
    * Requirements: parquet table, unpartitioned OR identity-partitioned
    * (every spec epoch; derived transforms — bucket/day/… — would need
    * per-row derived columns only a rewrite can produce). Adopted columns
    * present in the table schema must match its types exactly (extra file
    * columns are legal but invisible; missing table columns read as
    * null); identifier fields AND partition source columns must be
    * present. On an identity-partitioned table each FILE must hold
    * exactly one partition tuple (the layout every hive-partitioned lake
    * already has) — files land as one group PER TUPLE with the tuple in
    * the manifest, so partition pruning covers adopted data immediately.
    * On commit failure the moves are rolled back. NOTE: in move mode a
    * hard CRASH between the move and the commit leaves the sources inside
    * unreferenced group dirs, swept by the next commit's GC — use
    * `copy = true` when the sources must survive any failure.
    *
    * One Spark job total — a per-file columnar count/bounds/tuple
    * aggregate over the SOURCE files (identifier + cluster + partition
    * columns only), run BEFORE anything moves, so a validation failure
    * never touches the sources. Returns the adopted row count; zero-row
    * source files are skipped (nothing to adopt).
    */
  def addFiles(paths: Seq[String], copy: Boolean = false): Long = {
    require(allEpochPartitionFields.forall(_.transform == "identity"),
      "addFiles supports unpartitioned or identity-partitioned tables " +
        "(derived partition transforms require rewriting rows)")
    require(format == "parquet", "addFiles adopts parquet files")
    require(paths.nonEmpty, "no files to adopt")
    val srcs = paths.map(new Path(_))
    srcs.foreach(p => require(fs.exists(p) && fs.getFileStatus(p).isFile,
      s"not an adoptable file: $p"))
    val incoming = spark.read.option("mergeSchema", "true").parquet(paths: _*).schema
    Seq(SeqCol, TombstoneCol, PosFileCol, PosIdxCol).foreach(r =>
      require(!incoming.fieldNames.contains(r),
        s"adopted files may not carry reserved column $r"))
    _meta.identifierFields.foreach(i => require(incoming.fieldNames.contains(i),
      s"adopted files are missing identifier column $i"))
    val pcols = partitionFields.map(_.sourceColumn)
    pcols.foreach(c => require(incoming.fieldNames.contains(c),
      s"adopted files are missing partition column $c (hive-layout lakes " +
        "must materialize dir-encoded partition values into the files first)"))
    incoming.fields.foreach { f =>
      _meta.schema.fields.find(_.name == f.name).foreach { tf =>
        require(tf.dataType == f.dataType,
          s"column ${f.name}: adopted type ${f.dataType} != table type ${tf.dataType}")
      }
    }
    // one pass over the SOURCES: per-(file, tuple) counts and bounds —
    // nothing has moved yet, so every validation failure is free
    val statCols = (_meta.identifierFields ++ clusterByCols).distinct
      .filter(incoming.fieldNames.contains)
      .flatMap(c => statsTag(incoming(c).dataType).map(c -> _))
    val readCols = (statCols.map(_._1) ++ pcols).distinct
    val scan = spark.read
      .schema(StructType(incoming.fields.filter(f => readCols.contains(f.name))))
      .parquet(paths: _*)
      .withColumn("__file", col("_metadata.file_path"))
    val aggs = count(lit(1)).as("__rows") +: statCols.flatMap { case (c, _) =>
      Seq(min(col(c)).as(s"mn_$c"), max(col(c)).as(s"mx_$c"),
        count(col(c)).as(s"nn_$c"), approx_count_distinct(col(c)).as(s"nd_$c")) }
    // tuple strings via Spark's OWN string cast — byte-identical to the
    // write path's staging-key canonicalization (java toString differs
    // for timestamps), so adopted and written groups of one logical
    // partition share one tuple in the manifest
    val perFile = scan.groupBy(col("__file") +:
        pcols.map(c => col(c).cast(StringType).as(s"__pt_$c")): _*)
      .agg(aggs.head, aggs.tail: _*).collect()
    val tupleOfRow = (r: Row) => pcols.map(c =>
      c -> Option(r.get(r.fieldIndex(s"__pt_$c"))).map(_.toString)
        .getOrElse(ExternalCatalogUtils.DEFAULT_PARTITION_NAME)).toMap
    val byFile = perFile.groupBy(r =>
      new Path(r.getString(r.fieldIndex("__file"))).toUri.getPath)
    byFile.foreach { case (f, rows) => require(rows.length == 1,
      s"file $f spans ${rows.length} partition tuples — split by partition " +
        "before adopting") }
    val fileTuple: Map[String, Map[String, String]] =
      byFile.map { case (f, rows) => f -> tupleOfRow(rows.head) }
    val seq = _meta.currentVersion + 1
    // one group dir per distinct tuple (unpartitioned: the single empty
    // tuple); zero-row files appear in no aggregate row and are skipped
    val adoptable = srcs.filter(s => fileTuple.contains(
      fs.makeQualified(s).toUri.getPath))
    val relOfTuple = fileTuple.values.toSeq.distinct
      .map(t => t -> groupRel(Manifest.Data, seq)).toMap
    relOfTuple.values.foreach(rel => fs.mkdirs(new Path(tableDir, rel)))
    val placed = adoptable.zipWithIndex.map { case (src, i) =>
      val rel = relOfTuple(fileTuple(fs.makeQualified(src).toUri.getPath))
      val dst = new Path(new Path(tableDir, rel), f"adopt-$i%05d-${src.getName}")
      val moved = !copy && fs.rename(src, dst)
      if (!moved)
        org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst,
          /* deleteSource = */ !copy, spark.sparkContext.hadoopConfiguration)
      src -> dst
    }
    def rollback(): Unit = {
      if (!copy) placed.foreach { case (src, dst) =>
        if (fs.exists(dst) && !fs.exists(src)) fs.rename(dst, src)
      }
      relOfTuple.values.foreach(rel => fs.delete(new Path(tableDir, rel), true))
    }
    try {
      val entries = relOfTuple.toSeq.map { case (tuple, rel) =>
        val rows = perFile.filter(r => tupleOfRow(r) == tuple)
        val stats = statCols.collect(Function.unlift { case (c, tg) =>
          val mns = rows.map(_.get(rows.head.fieldIndex(s"mn_$c"))).filter(_ != null)
          val mxs = rows.map(_.get(rows.head.fieldIndex(s"mx_$c"))).filter(_ != null)
          if (mns.length == rows.length && mxs.length == rows.length)
            Some(c -> ColBounds(tg,
              mns.minBy(v => SortKey(tg, v)), mxs.maxBy(v => SortKey(tg, v)),
              rows.map(_.getAs[Long]("__rows")).sum -
                rows.map(_.getAs[Long](s"nn_$c")).sum,
              math.min(rows.map(_.getAs[Long](s"nd_$c")).sum,
                rows.map(_.getAs[Long](s"nn_$c")).sum)))
          else None
        }).toMap
        stampFiles(ManifestEntry(rel, Manifest.Data, seq, stats, tuple,
          rows = rows.map(_.getAs[Long]("__rows")).sum))
      }
      commitManifest(currentEntries ++ entries)
      entries.map(_.rows).sum
    } catch { case t: Throwable => rollback(); throw t }
  }

  /** Orders stat values inside one tagged domain — addFiles' per-tuple
    * bound rollup (numeric vs UTF-8-byte string order, matching
    * [[ColBounds.intersects]]).
    */
  private case class SortKey(tag: String, v: Any) extends Ordered[SortKey] {
    override def compare(that: SortKey): Int = tag match {
      case "i" | "f" => java.lang.Double.compare(
        v.asInstanceOf[Number].doubleValue(), that.v.asInstanceOf[Number].doubleValue())
      case _ => java.util.Arrays.compareUnsigned(
        String.valueOf(v).getBytes(java.nio.charset.StandardCharsets.UTF_8),
        String.valueOf(that.v).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
  }

  /** Stage `props` into the handle only for the duration of ONE commit
    * attempt: they ride that commit's pointer flip or not at all — a
    * failed write must never leak a replay marker into a LATER commit
    * (it would claim a batch landed that never did). The shared
    * discipline of every `commitProperties` overload.
    */
  private def stagedProps[A](props: Map[String, String])(body: => A): A = {
    if (props.isEmpty) return body
    val prevMeta = _meta
    _meta = _meta.copy(properties = _meta.properties ++ props)
    try body
    catch { case t: Throwable => _meta = prevMeta; throw t }
  }

  /** [[merge]] with `commitProperties` riding the SAME commit's pointer
    * flip — [[append]]'s replay-marker twin for the upsert path: a
    * follower stamps "applied up to upstream version V" into the very
    * commit that applied those changes, so a crash-replayed catch-up
    * detects the batch already landed (see [[graft.cdc.Replicate]]).
    */
  def merge(batch: DataFrame, cfg: CdcApply.UpsertConfig,
            commitProperties: Map[String, String]): Unit =
    stagedProps(commitProperties)(merge(batch, cfg))

  /** [[overwrite]] with `commitProperties` riding the SAME pointer flip
    * (the reseed path of [[graft.cdc.Replicate]] needs its marker atomic
    * with the snapshot it stamped).
    */
  def overwrite(df: DataFrame, commitProperties: Map[String, String]): Unit =
    stagedProps(commitProperties)(overwrite(df))

  /** Driver-only: did any live group land in versions (fromVersion,
    * toVersion]? One manifest read, ZERO Spark jobs — the cheap poll a
    * changelog follower runs before deciding to read anything.
    */
  def hasChangesBetween(fromVersion: Long, toVersion: Long): Boolean = {
    require(fromVersion <= toVersion, s"empty range: ($fromVersion, $toVersion]")
    Manifest.read(fs, manifestPath(toVersion))
      .getOrElse(throw new IllegalArgumentException(
        s"no retained manifest for version $toVersion of ${_meta.name}"))
      .exists(e => e.seq > fromVersion && e.seq <= toVersion)
  }

  /** Apply a NET change batch — one row per key, plus a boolean column
    * naming hard deletes — as one merge-on-read commit: the changelog-
    * apply primitive ([[readChangesBetween]]'s output shape, which is
    * what [[graft.cdc.Replicate]] feeds back in). Unlike [[merge]] this
    * takes the tombstone verdict as data instead of deriving it from a
    * CDC op column, so the table schema needs no meta columns. The batch
    * MUST be net per key (duplicate keys would land as same-seq sibling
    * rows); non-tombstone columns are cast to the declared schema
    * (changelog replication is type-identical, so the casts are no-ops).
    */
  def applyNetChanges(batch: DataFrame, tombstoneCol: String,
                      commitProperties: Map[String, String] = Map.empty): Unit = {
    commitUpsertBatch(netFlagged(batch, tombstoneCol), skipIfEmpty = true,
      commitProperties = commitProperties)
  }

  /** [[applyNetChanges]] staged onto a WAP branch instead of committed —
    * the branch form the V2 row-level delta write uses under an active
    * `spark.wap.branch` (see [[graft.catalog.GraftDeltaBatchWrite]]):
    * the SAME net batch, landing in the branch's staged set at the next
    * branch-local seq, live table untouched until publish. A missing
    * branch is created ([[deleteWhereOnBranch]]'s discipline — a
    * misspelled branch must stage-and-audit, never mutate live state).
    */
  def applyNetChangesOnBranch(batch: DataFrame, tombstoneCol: String,
                              branch: String): Unit = {
    requireBranchDml("row-level DML", branch)
    stageUpsertInto(netFlagged(batch, tombstoneCol), branch)
  }

  /** Net change batch → the flagged upsert shape the MoR commit takes:
    * declared columns (cast, null-filled when absent) + the tombstone
    * verdict as [[TombstoneCol]].
    */
  private def netFlagged(batch: DataFrame, tombstoneCol: String): DataFrame = {
    require(_meta.identifierFields.nonEmpty, "applyNetChanges needs identifier fields")
    require(batch.columns.contains(tombstoneCol),
      s"batch is missing the tombstone column $tombstoneCol")
    val present = batch.columns.toSet
    batch.select(_meta.schema.fields.toSeq.map { f =>
      (if (present.contains(f.name)) col(f.name).cast(f.dataType)
       else lit(null).cast(f.dataType)).as(f.name)
    } :+ coalesce(col(tombstoneCol).cast(BooleanType), lit(false)).as(TombstoneCol): _*)
  }

  /** C3–C7 — upsert-merge a CDC batch into the table. */
  def merge(batch: DataFrame, cfg: CdcApply.UpsertConfig = CdcApply.UpsertConfig()): Unit = {
    val ids = _meta.identifierFields
    if (ids.isEmpty) { append(batch); return } // C6 append fallback
    mergeOnRead(batch, cfg)
  }

  /** Merge = the reference's delete+insert delta commit
    * (BaseDeltaTaskWriter.java:52-72) collapsed into ONE written file
    * group per touched partition: the batch's per-key winners, which
    * double as the (partition-scoped) equality deletes for everything
    * older (see [[Manifest]]). Hard deletes under keepDeletes=false become
    * tombstone rows. The existing table is never read and a single Spark
    * write job runs — per-micro-batch cost is proportional to the batch,
    * not the table, on partitioned and unpartitioned tables alike.
    */
  private def mergeOnRead(batch: DataFrame, cfg: CdcApply.UpsertConfig): Unit = labeled("merge") {
    val ids = _meta.identifierFields
    val conformed = EventDecoder.conformTo(batch, _meta.schema, temporalMode)
    localWinners(conformed, ids, cfg) match {
      case Some((rows, schema)) => commitUpsertRows(rows, schema)
      case None =>
        val winners = CdcApply.batchWinners(conformed, ids, cfg)
        val flagged = winners.withColumn(TombstoneCol,
          if (cfg.keepDeletes) lit(false)
          else CdcApply.isDelete(cfg.opColumn)) // null-safe: same predicate as the relational fold
        commitUpsertBatch(flagged)
    }
  }

  /** The all-driver commit tail for a batch whose winners already live in
    * driver memory ([[localWinners]]): identifier sort driver-side
    * (write CLUSTERING only — exact long / UTF-8 orders, the same
    * domains the bounds use), file written by [[LocalCommit]], keys
    * handed straight to [[posdelOnCommit]] — the second per-commit
    * plan-analysis + job roundtrip (a Sort-over-LocalRelation collect,
    * ~50 ms at the 2048-event commit unit) disappears. Falls back to the
    * DataFrame tail when the local-write gate refuses (row cap, format,
    * partitioning, non-writable types) so semantics never fork.
    */
  private def commitUpsertRows(rows: Seq[Row], schema: StructType): Unit = {
    val maxRows = _meta.properties.getOrElse("write.local-commit-max-rows", "20000").toInt
    if (maxRows <= 0 || format != "parquet" || isPartitioned ||
        rows.length > maxRows || !LocalCommit.writableSchema(schema)) {
      import scala.jdk.CollectionConverters._
      commitUpsertBatch(spark.createDataFrame(rows.asJava, schema))
      return
    }
    val seq = _meta.currentVersion + 1
    val (entry, localRows) =
      writeGroupDriverRows(sortRowsForWrite(rows, schema), schema, Manifest.Upsert, seq)
    finishUpsertCommit(entry.toSeq, localRows, seq)
  }

  /** Driver-side analogue of [[sortForWrite]] — identifier-ascending
    * clustering with the bounds' own orders (exact integral compare,
    * IEEE double with NaN greatest, UTF-8 unsigned bytes; nulls first
    * like Spark's ascending default; untagged types keep arrival order).
    */
  private def sortRowsForWrite(rows: Seq[Row], schema: StructType): Seq[Row] = {
    val keyed = _meta.identifierFields.filter(schema.fieldNames.contains)
      .flatMap(c => statsTag(schema(c).dataType).map(schema.fieldIndex(c) -> _))
    if (keyed.isEmpty) return rows
    // decorate-sort-undecorate: the sort key (notably the UTF-8 byte
    // encoding of string ids) is computed ONCE per row, not twice per
    // comparison — O(n) allocations instead of O(n log n) on this hot
    // trickle-commit path
    def keyOf(r: Row): Array[AnyRef] = keyed.map { case (idx, tag) =>
      val v = r.get(idx)
      if (v == null) null
      else tag match {
        case "i" => java.lang.Long.valueOf(v.asInstanceOf[Number].longValue())
        case "f" => java.lang.Double.valueOf(v.asInstanceOf[Number].doubleValue())
        case _   => String.valueOf(v).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      }
    }.toArray
    val ord = new Ordering[(Array[AnyRef], Row)] {
      def compare(a: (Array[AnyRef], Row), b: (Array[AnyRef], Row)): Int = {
        var i = 0
        while (i < a._1.length) {
          val (x, y) = (a._1(i), b._1(i))
          val c =
            if (x == null && y == null) 0
            else if (x == null) -1 // nulls first, Spark's ascending default
            else if (y == null) 1
            else (x, y) match {
              case (l: java.lang.Long, m: java.lang.Long)     => l.compareTo(m)
              case (l: java.lang.Double, m: java.lang.Double) => l.compareTo(m)
              case (l: Array[Byte], m: Array[Byte]) =>
                java.util.Arrays.compareUnsigned(l, m)
              case _ => 0
            }
          if (c != 0) return c
          i += 1
        }
        0
      }
    }
    rows.map(r => (keyOf(r), r)).sorted(ord).map(_._2)
  }

  /** Driver-side C2 dedup for trickle micro-batches — the merge twin of
    * [[LocalCommit]]: a few-thousand-row batch rooted in a LocalRelation
    * pays ~120 ms of Spark machinery (a 32-partition `max_by` shuffle
    * under AQE) to dedup rows that fit in one array, which at the
    * reference's 2048-event commit unit is most of the per-batch cost.
    * This replays the EXACT winner semantics in driver code — the
    * reference's own HashMap fold (IcebergTableOperator.java:58-92):
    * per key keep the max by (dedup column long, op priority), equality
    * favoring the later arrival — and hands [[commitUpsertBatch]] a
    * LocalRelation, so the whole merge runs without a shuffle job.
    *
    * Returns None (distributed path) whenever exactness could be at
    * risk: non-local/large plans, timestamp-typed or non-integral dedup
    * columns (their cast semantics live in [[graft.cdc.Dedup]]), binary
    * identifier columns (driver equality would compare references),
    * missing dedup/op columns (the distributed path raises the canonical
    * errors), or a null identifier under the Fail policy (Spark raises
    * the canonical USER_RAISED_EXCEPTION). The differential safety net is
    * the existing battery: MorEquivalenceSpec / chaos folds compute their
    * models through the DISTRIBUTED [[CdcApply.upsert]], so every run
    * checks this path against it.
    */
  private def localWinners(conformed: DataFrame, ids: Seq[String],
                           cfg: CdcApply.UpsertConfig): Option[(Seq[Row], StructType)] = {
    import graft.cdc.Operation
    val maxRows = _meta.properties.getOrElse("write.local-commit-max-rows", "20000").toInt
    val leaves = conformed.queryExecution.logical.collectLeaves()
    // the cap bounds the DRIVER-side materialization, so it must gate the
    // SUM across leaves: a union of N small LocalRelations would otherwise
    // pass per-leaf and collect N × maxRows rows
    val smallLocal = maxRows > 0 && leaves.nonEmpty && leaves.forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]) &&
      leaves.collect {
        case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
          l.data.length.toLong
      }.sum <= maxRows && LocalCommit.writableSchema(conformed.schema)
    if (!smallLocal) return None
    val schema = conformed.schema
    val cols = schema.fieldNames
    if (!cols.contains(cfg.opColumn)) return None
    // identifier types whose DRIVER JVM equality matches Spark SQL
    // grouping equality. Excluded: Float/Double (SQL grouping normalizes
    // -0.0 == 0.0; java.lang.Double.equals does not), Binary (reference
    // equality), and all non-atomic types
    def safeKeyType(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType | StringType |
           BooleanType | DateType | TimestampType | TimestampNTZType => true
      case _: DecimalType => true // fixed column scale ⇒ scale-stable equals
      case _ => false
    }
    if (!ids.forall(c => safeKeyType(schema(c).dataType))) return None
    val dedupIdx: Option[Int] =
      if (!cfg.runDedup) None
      else if (!cols.contains(cfg.dedupColumn)) return None
      else schema(cfg.dedupColumn).dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
          Some(schema.fieldIndex(cfg.dedupColumn))
        case _ => return None
      }
    val rows = conformed.collect()
    val pkIdx = ids.map(schema.fieldIndex)
    val guarded = cfg.nullKeyPolicy match {
      case CdcApply.NullKeyPolicy.Fail =>
        if (rows.exists(r => pkIdx.exists(r.isNullAt))) return None
        rows
      case _ => rows.filterNot(r => pkIdx.exists(r.isNullAt))
    }
    val opIdx = schema.fieldIndex(cfg.opColumn)
    def prio(r: Row): Int = r.get(opIdx) match {
      case s: String => Operation.priority.getOrElse(s, 0)
      case _         => 0
    }
    val winners: Seq[Row] = dedupIdx match {
      case None => guarded.toSeq
      case Some(di) =>
        def ts(r: Row): Long = r.get(di) match {
          case null                 => Long.MinValue
          case n: java.lang.Number  => n.longValue()
          case _                    => Long.MinValue // unreachable (type-gated)
        }
        val m = new java.util.LinkedHashMap[Seq[Any], Row]()
        guarded.foreach { r =>
          val k = pkIdx.map(r.get)
          val prev = m.get(k)
          // replace when new >= old on (ts, prio) — the reference fold's
          // compare(old,new) <= 0: equality favors the later arrival
          if (prev == null || ts(r) > ts(prev) ||
              (ts(r) == ts(prev) && prio(r) >= prio(prev)))
            m.put(k, r)
        }
        import scala.jdk.CollectionConverters._
        m.values.asScala.toSeq
    }
    val tomb: Row => Boolean =
      if (cfg.keepDeletes) _ => false
      else r => r.get(opIdx) == Operation.Delete
    val outSchema = StructType(schema.fields :+
      StructField(TombstoneCol, BooleanType, nullable = false))
    Some((winners.map(r => Row.fromSeq(r.toSeq :+ tomb(r))), outSchema))
  }

  /** Write a schema+[[TombstoneCol]] batch as ONE upsert commit: the
    * group's (identifier, seq) pairs hide every older row of those keys,
    * tombstone rows additionally vanish at read. Shared tail of
    * [[merge]] and the row-level DML surface ([[deleteWhere]] /
    * [[updateWhere]] / [[mergeInto]]). `skipIfEmpty` avoids burning a
    * snapshot version on a no-op (nothing matched) — merge keeps the
    * unconditional commit so every micro-batch is a snapshot, reference
    * parity (IcebergTableOperator.java:205-249).
    */
  private def commitUpsertBatch(flagged: DataFrame, skipIfEmpty: Boolean = false,
                                commitProperties: Map[String, String] = Map.empty): Unit = {
    // same staging discipline as append(commitProperties): the properties
    // ride THIS commit's pointer flip or not at all (a skipped empty
    // commit rolls them back too — they must never leak into a LATER
    // commit that doesn't contain this batch)
    if (commitProperties.nonEmpty) {
      val prevMeta = _meta
      _meta = _meta.copy(properties = _meta.properties ++ commitProperties)
      val committed =
        try commitUpsertStaged(flagged, skipIfEmpty)
        catch { case t: Throwable => _meta = prevMeta; throw t }
      if (!committed) _meta = prevMeta
    } else commitUpsertStaged(flagged, skipIfEmpty)
  }

  /** Returns false iff the commit was skipped (empty batch under
    * `skipIfEmpty`). */
  private def commitUpsertStaged(flagged: DataFrame, skipIfEmpty: Boolean): Boolean = {
    val seq = _meta.currentVersion + 1
    val (entries, localRows) =
      if (isPartitioned)
        (splitWriteGroups(withPartitionCols(flagged), Manifest.Upsert, _ => seq, seq), None)
      else {
        val (e, lr) = writeGroupAutoLocal(sortForWrite(flagged), Manifest.Upsert, seq)
        (e.toSeq, lr)
      }
    finishUpsertCommit(entries, localRows, seq, skipIfEmpty)
  }

  /** Shared tail of the DataFrame and driver-rows upsert commits: the
    * empty-batch skip, DV-at-commit, the manifest flip and the bounded
    * read-amplification auto-compaction.
    */
  private def finishUpsertCommit(entries: Seq[ManifestEntry],
                                 localRows: Option[(Seq[Row], StructType)],
                                 seq: Long, skipIfEmpty: Boolean = false): Boolean = {
    // a no-match DML write can still leave a zero-row group (parquet
    // writers emit a schema-only file for an empty plan) — don't burn a
    // snapshot version on it; drop the empty dir instead
    if (skipIfEmpty && entries.forall(_.rows == 0L)) {
      entries.foreach(e => fs.delete(new Path(tableDir, e.path), true))
      return false
    }
    val prior = currentEntries
    val dv = PhaseTimer.time("commit.posdel") {
      posdelOnCommit(prior, seq, entries, localRows)
    }
    val committed = prior ++ entries ++ dv
    commitManifest(committed)
    // Bounded read amplification: a trickle stream accumulates one upsert
    // group per micro-batch; past the threshold the anti-join's delete side
    // stops being "small" and reads degrade. Minor-compact automatically
    // every `write.mor.compact-after-upserts` upsert groups (0 disables) —
    // folds only the trickle suffix, never the base, so the amortized cost
    // per batch is O(trickle). Periodic full compact() (the reference's
    // external-maintenance stance, docs/faq.md) drops tombstones and
    // resets the accumulation. Count from the entries just committed — no
    // second manifest read on the per-batch hot path.
    val autoCompact = _meta.properties
      .getOrElse("write.mor.compact-after-upserts", "32").toInt
    // count upsert COMMITS (distinct seqs), not groups: a partitioned
    // merge lands one group per touched partition, and the read cost the
    // threshold bounds (delete-side breadth per tuple) grows per commit
    if (autoCompact > 0 &&
      committed.filter(_.kind == Manifest.Upsert).map(_.seq).distinct.size >= autoCompact)
      compactMinor()
    true
  }

  /** Deletion-vector-at-commit: materialize THIS upsert batch's equality
    * scope into a `(file, pos)` posdel sidecar inside the very same
    * commit, instead of leaving it to the maintenance materializer — the
    * reference's format-v3 default of writing deletion vectors at write
    * time (IcebergTableWriterFactory.java:98-99). Reads between
    * maintenance runs then anti-join the fixed-width sidecars instead of
    * evaluating the accumulated equality scopes.
    *
    * Opt-in via `write.mor.posdel-on-commit` = `auto` | `always` (default
    * `off`). The batch's distinct keys (capped by `…posdel-on-commit
    * .max-keys`, default 10000 — above it the equality path is the right
    * plan anyway) are resolved to candidate file groups through the
    * manifest's column bounds and Bloom filters; in `auto` mode the
    * sidecar is only built when candidates stay under
    * `…posdel-on-commit.max-file-fraction` (default 0.25) of the live
    * groups — a batch touching most files gains nothing from position
    * pairs. The probe itself is budgeted in `auto` (round 7):
    * `…posdel-on-commit.probe-budget` (default 2e6) caps the
    * groups × keys product up front, and the candidate count bails
    * mid-loop at the fraction threshold — a commit that would discard
    * the probe result never pays for the full probe. The scan reads ONLY candidate groups with the keys pushed
    * down as `isin` prefilters, so the per-commit cost is proportional to
    * the matched file set, not the table.
    *
    * Soundness: [[morResolve]] treats a tuple's max posdel seq as "every
    * equality scope of that tuple ≤ S is materialized", so a per-batch
    * sidecar at this commit's seq is only legal when no OLDER scope of
    * the same tuple is still unmaterialized — each commit's sidecar
    * covers exactly its own scope and the chain covers every prefix.
    * When a tuple's chain is broken (mode was just enabled on a table
    * with live scopes, a batch exceeded the caps, a WAP publish landed
    * scopes out of band) that tuple degrades to the equality status quo;
    * [[materializePositionalDeletes]] restarts it — per touched tuple on
    * partitioned single-epoch tables (round 7), at O(sidecar) cost —
    * and [[compact]] clears scopes outright on multi-epoch tables.
    *
    * Partitioned tables (round 6, reference parity — the reference
    * writes DVs per data file on every commit): one sidecar PER TOUCHED
    * PARTITION, carrying its tuple in the manifest entry so pruned reads
    * keep pairs with their groups and [[morResolve]] advances each
    * tuple's chain independently. Equality scopes are partition-local
    * within a spec epoch, so a tuple's pairs can only name rows of that
    * tuple's files; SINGLE-epoch tables only — after a partition
    * evolution, cross-epoch scopes are global-on-ids and a tuple-scoped
    * sidecar could not account for them (run [[compact]] to normalize,
    * which also clears the scopes).
    */
  private def posdelOnCommit(prior: Seq[ManifestEntry], seq: Long,
                             newEntries: Seq[ManifestEntry],
                             localRows: Option[(Seq[Row], StructType)] = None): Seq[ManifestEntry] = {
    val mode = _meta.properties.getOrElse("write.mor.posdel-on-commit", "off")
    if (mode != "auto" && mode != "always") return Seq.empty
    if (specBoundaries.nonEmpty) return Seq.empty // multi-epoch: global scopes
    if (!isPartitioned && allEpochPartitionFields.nonEmpty) return Seq.empty
    val ids = _meta.identifierFields
    if (ids.isEmpty) return Seq.empty
    // Driver-side value normalization that makes JVM equality coincide
    // with Spark SQL equality for the gated type set: -0.0/0.0 collapse
    // (SQL grouping + EqualTo), byte arrays by value (SQL binary
    // equality), NaN==NaN holds on both sides (java equals AND Spark's
    // EqualTo). Decimals share the column's fixed scale on both inputs,
    // so BigDecimal.equals' scale-sensitivity can't bite.
    def normEq(v: Any): Any = v match {
      case d: java.lang.Double if d.doubleValue() == 0.0 => java.lang.Double.valueOf(0.0)
      case f: java.lang.Float if f.floatValue() == 0f    => java.lang.Float.valueOf(0f)
      case b: Array[Byte]                                => b.toSeq
      case other                                         => other
    }
    def driverEqSafe(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType | StringType |
           BooleanType | DateType | TimestampType | TimestampNTZType |
           FloatType | DoubleType | BinaryType => true
      case _: DecimalType => true
      case _ => false
    }
    val idsDriverSafe = ids.forall(c => driverEqSafe(physicalSchema(c).dataType))
    val posdels = prior.filter(_.kind == Manifest.PosDel)
    val dataPrior = prior.filterNot(_.kind == Manifest.PosDel)
    val maxKeys = _meta.properties
      .getOrElse("write.mor.posdel-on-commit.max-keys", "10000").toInt
    val frac = _meta.properties
      .getOrElse("write.mor.posdel-on-commit.max-file-fraction", "0.25").toDouble

    /** One tuple's sidecar: `tPrior` = the tuple's live groups, `keys` =
      * the batch's identifier tuples landing in it. None = this tuple
      * degrades to equality scopes (chain broken or caps exceeded).
      */
    def sidecarFor(tuple: Map[String, String], tPrior: Seq[ManifestEntry],
                   keyRowsLazy: => Array[Row]): Option[ManifestEntry] = {
      val tApplied = posdels.filter(_.partition == tuple)
        .map(_.seq).maxOption.getOrElse(Long.MinValue)
      val tMin = tPrior.map(_.seq).minOption.getOrElse(Long.MinValue)
      // chain invariant: an older scope of THIS tuple neither materialized
      // nor trivially inert (min-seq groups hide nothing) forbids a
      // higher-seq sidecar. Checked BEFORE the key read-back (by-name
      // param): once a chain is broken, every later commit bails here and
      // must not pay a per-batch Spark job just to discover that.
      if (tPrior.exists(e =>
          e.kind == Manifest.Upsert && e.seq > tApplied && e.seq > tMin))
        return None
      val keyRows = keyRowsLazy
      if (keyRows.length > maxKeys) return None
      val keys = keyRows.filterNot(_.anyNull) // null ids never match `===` scopes
      // the candidate probe is O(live groups × batch keys) single-threaded
      // bounds+bloom work; in auto mode, pre-bail when that product blows
      // the budget (a hot tuple with thousands of live groups must not pay
      // ~1e7 probe iterations per commit just to DISCARD the result), and
      // count candidates incrementally, stopping at the fraction threshold
      // mid-loop instead of after the full pass
      val probeBudget = _meta.properties
        .getOrElse("write.mor.posdel-on-commit.probe-budget", "2000000").toLong
      if (mode == "auto" && tPrior.size.toLong * keys.length > probeBudget)
        return None
      val maxCand =
        if (mode == "auto") math.max(1.0, frac * tPrior.size) else Double.MaxValue
      val candB = Seq.newBuilder[ManifestEntry]
      var nCand = 0
      val probeIt = tPrior.iterator
      // each key is hashed once, not once per (group, key)
      val probes = ids.map(c => new BloomMeta.Probe(physicalSchema(c).dataType))
      while (probeIt.hasNext && nCand >= 0) {
        val e = probeIt.next()
        val isCand = keys.exists { kr =>
          ids.zipWithIndex.forall { case (c, i) =>
            e.stats.get(c).forall(_.intersects(kr.get(i), kr.get(i))) &&
              probes(i).mightContain(e.blooms.get(c), kr.get(i))
          }
        }
        if (isCand) {
          nCand += 1
          if (nCand > maxCand) nCand = -1 // threshold crossed: stop probing
          else candB += e
        }
      }
      if (nCand < 0) return None
      val candidates = candB.result()
      val rel = s"files/${Manifest.PosDel}-$seq-${java.util.UUID.randomUUID().toString.take(8)}"
      val dir = new Path(tableDir, rel)
      // an empty sidecar (pure-insert batch, or no candidates) is still
      // committed: the chain invariant needs every scope ≤ S accounted for
      val pairRows: Either[Array[Row], DataFrame] =
        if (candidates.isEmpty || keys.isEmpty) Left(Array.empty[Row])
        else {
          val readSchema = StructType(physicalSchema.fields :+
            StructField(SeqCol, LongType, nullable = false) :+
            StructField(TombstoneCol, BooleanType, nullable = true))
          val scan0 = spark.read.schema(readSchema).format(format)
            .load(candidates.map(e => new Path(tableDir, e.path).toString): _*)
          // per-column isin prefilters push to the parquet scan (row-group
          // stats pruning); the exact per-tuple match happens below
          val prefilter = ids.zipWithIndex.map { case (c, i) =>
            col(c).isin(keys.map(_.get(i)).distinct.toIndexedSeq: _*)
          }.reduce(_ && _)
          val base = scan0.filter(prefilter)
            .select(Seq(col("_metadata.file_path").as("file"),
              col("_metadata.row_index").as("pos")) ++ ids.map(col) :+
              coalesce(col(SeqCol), regexp_extract(col("_metadata.file_path"),
                ManagedTable.GroupSeqPattern, 2).cast(LongType)).as(SeqCol): _*)
            .filter(col(SeqCol) < lit(seq))
          val maxLocal = 100000
          // exact tuple membership: for driver-safe id types the collected
          // prefiltered rows are filtered against the key set in the
          // driver (trickle regime: one scan job, no broadcast exchange,
          // no join); otherwise — or past the local cap — the broadcast
          // semi-join path, identical semantics
          def joined = {
            val keysDf = spark.createDataFrame(
              java.util.Arrays.asList(keys: _*),
              StructType(ids.map(n => physicalSchema(n).copy(nullable = false))))
            base.join(broadcast(keysDf), ids, "left_semi")
              .select(col("file"), col("pos"))
          }
          if (idsDriverSafe) {
            val collected = base.limit(maxLocal + 1).collect()
            if (collected.length <= maxLocal) {
              val keySet = keys.map(kr =>
                ids.indices.map(i => normEq(kr.get(i))).toVector).toSet
              Left(collected.iterator
                .filter(r => keySet.contains(
                  ids.indices.map(i => normEq(r.get(2 + i))).toVector))
                .map(r => Row(r.get(0), r.get(1))).toArray)
            } else Right(joined)
          } else {
            val collected = joined.limit(maxLocal + 1).collect()
            if (collected.length <= maxLocal) Left(collected) else Right(joined)
          }
        }
      Some(pairRows match {
        case Left(rows) if format == "parquet" =>
          fs.mkdirs(dir)
          LocalCommit.writeParquet(spark, new Path(dir, "part-00000.parquet"),
            ManagedTable.PosDelSchema, rows.toSeq)
          stampFiles(ManifestEntry(rel, Manifest.PosDel, seq, partition = tuple,
            rows = rows.length.toLong))
        case Left(rows) =>
          val df = spark.createDataFrame(
            java.util.Arrays.asList(rows: _*), ManagedTable.PosDelSchema)
          df.repartition(1).write.mode("overwrite").format(format).save(dir.toString)
          stampFiles(ManifestEntry(rel, Manifest.PosDel, seq, partition = tuple,
            rows = rows.length.toLong))
        case Right(pairs) =>
          pairs.repartition(1).write.mode("overwrite").format(format).save(dir.toString)
          stampFiles(ManifestEntry(rel, Manifest.PosDel, seq, partition = tuple))
      })
    }

    // Keys come from the just-written group files, never from `flagged`:
    // re-evaluating the batch DataFrame would re-run its whole upstream
    // plan (a CDC batch's decode pipeline — the pipeline spec asserts
    // decode-once), while the staged files are a cheap column-pruned
    // local read AND the canonical record of which tuple each row landed
    // in. A tuple with no prior groups needs no sidecar: its scope is the
    // tuple minimum, which hides nothing and never breaks the chain.
    def keysOf(groups: Seq[ManifestEntry]): Array[Row] =
      if (groups.isEmpty) Array.empty
      else {
        val keySchema = StructType(ids.map(n => physicalSchema(n)))
        spark.read.schema(keySchema).format(format)
          .load(groups.map(e => new Path(tableDir, e.path).toString): _*)
          .distinct().limit(maxKeys + 1).collect()
      }
    // Trickle fast path: the LocalCommit write already holds the EXACT
    // rows the group file contains, so the key projection + distinct run
    // driver-side with zero jobs — same decode-once contract (these rows
    // ARE the written file's content), same SQL-distinct semantics
    // (normEq), gated on the same id-type set as the pair filter.
    def keysLocal(rows: Seq[Row], schema: StructType): Array[Row] = {
      val idx = ids.map(schema.fieldIndex)
      val seen = scala.collection.mutable.LinkedHashMap.empty[Vector[Any], Row]
      val it = rows.iterator
      while (it.hasNext && seen.size <= maxKeys) {
        val r = it.next()
        val k = idx.map(i => normEq(r.get(i))).toVector
        if (!seen.contains(k)) seen.put(k, Row.fromSeq(idx.map(r.get)))
      }
      seen.values.toArray
    }
    val written = newEntries.filter(e => e.kind == Manifest.Upsert && e.rows != 0L)
    if (!isPartitioned)
      sidecarFor(Map.empty, dataPrior, localRows match {
        case Some((rows, schema)) if idsDriverSafe && written.nonEmpty =>
          keysLocal(rows, schema)
        case _ => keysOf(written)
      }).toSeq
    else
      written.groupBy(_.partition).toSeq.sortBy(_._1.toString).flatMap {
        case (tuple, groups) =>
          val tPrior = dataPrior.filter(_.partition == tuple)
          if (tPrior.isEmpty) None
          else sidecarFor(tuple, tPrior, keysOf(groups))
      }
  }

  // ------------------------------------------------------------- row-level DML

  /** Metadata-only DELETE (Iceberg's "metadata delete"): when the
    * predicate is a pure function of IDENTITY partition source columns,
    * every row of a file group shares those values, so the predicate is
    * constant per group — a tuple either matches wholly (drop the group
    * from the manifest) or not at all (keep it untouched). The retention
    * shape (`DELETE FROM events WHERE day = '2024-01-03'`) then commits
    * one manifest diff: zero data files read, zero rewritten, at ANY
    * table size — where the keyless fallback would rewrite the whole
    * table. Returns true when it handled the delete.
    *
    * Eligibility (anything else falls through to the row-level paths):
    *  - keyless table, or a KEYED table unless
    *    `delete.keyed-region-mode=tombstone` (round 8): equality-delete
    *    scopes are partition-local within a spec epoch, so dropping a
    *    whole tuple drops its data, upsert AND posdel entries together —
    *    no surviving scope can reference the region. Keyed CDC tables
    *    are exactly where the 100 TB retention shape lives; consumers
    *    that prefer an incremental (tombstone-precise) changelog over
    *    the barrier+reseed opt out via the property;
    *  - single spec epoch — old-epoch tuples use a different formula;
    *  - predicate references ONLY identity partition sources (plain
    *    single-part names), no subqueries, and resolves deterministic;
    *  - source types whose canonical tuple string round-trips the value
    *    exactly and session-independently (integral / string / boolean /
    *    date / decimal / timestamp_ntz — tz-aware timestamps render in
    *    the WRITER's session zone, so a later session cannot reconstruct
    *    the instant; float/double excluded with them out of caution).
    *
    * Evaluation runs the REAL predicate over a one-row-per-live-tuple
    * local relation (values rebuilt by casting the canonical tuple
    * string back to the column type — the exact inverse of the write
    * path's `cast(StringType)`), so semantics including ANSI cast errors
    * match the row-level path; null predicate = kept, like everywhere.
    * A match-nothing delete returns without burning a version. Dropped
    * rows vanish without tombstones, so the commit is barrier-stamped —
    * changelog consumers reseed, exactly as after [[overwritePartitions]].
    */
  /** Types whose canonical tuple string round-trips the value exactly
    * and session-independently — the gate of every tuple-decidable
    * delete path. Tz-aware timestamps render in the WRITER's session
    * zone, so a later session cannot reconstruct the instant;
    * float/double are excluded with them out of caution.
    */
  private def tupleRoundTrips(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType |
         BooleanType | DateType | _: DecimalType | TimestampNTZType => true
    case _ => false
  }

  /** Shared eligibility + tuple-relation machinery of the
    * tuple-decidable DELETE paths ([[metadataDeleteWhere]],
    * [[scopedKeylessDelete]]): on a KEYLESS, single-spec-epoch
    * partitioned table with identity sources, build one local row per
    * live partition tuple with the source values rebuilt by casting the
    * canonical tuple string back to the column type — the exact inverse
    * of the write path's `cast(StringType)`. None when any gate fails
    * (notably: a STRING source value equal to the Hive null marker is
    * indistinguishable from null in the tuple — don't guess).
    */
  private def tupleRelation(entries: Seq[ManifestEntry], allowKeyed: Boolean = false)
      : Option[(Seq[Map[String, String]], DataFrame, Seq[PartitionField])] = {
    if (!isPartitioned || (_meta.identifierFields.nonEmpty && !allowKeyed)) return None
    if (entries.exists(e => entryEpoch(e.seq) != currentEpoch)) return None
    val idFields = partitionFields.filter(_.transform == "identity")
    if (idFields.isEmpty) return None
    if (_meta.schema.fieldNames.contains("__graft_tuple_idx")) return None
    val tuples = entries.map(_.partition).distinct
    if (tuples.exists(t => idFields.exists { pf =>
        t.get(pf.name).contains(ExternalCatalogUtils.DEFAULT_PARTITION_NAME) &&
          _meta.schema(pf.sourceColumn).dataType == StringType }))
      return None
    val strSchema = StructType(StructField("__graft_tuple_idx", IntegerType, nullable = false) +:
      idFields.map(pf => StructField(s"__graft_s_${pf.name}", StringType, nullable = true)))
    val rows = tuples.zipWithIndex.map { case (t, i) =>
      Row.fromSeq(i +: idFields.map { pf =>
        t.get(pf.name).filter(_ != ExternalCatalogUtils.DEFAULT_PARTITION_NAME).orNull
      })
    }
    val tupleDf = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), strSchema)
      .select(col("__graft_tuple_idx") +: idFields.map(pf =>
        col(s"__graft_s_${pf.name}")
          .cast(_meta.schema(pf.sourceColumn).dataType).as(pf.sourceColumn)): _*)
    Some((tuples, tupleDf, idFields))
  }

  /** Is `n` an identity partition source whose tuple string round-trips? */
  private def tupleRefOk(idFields: Seq[PartitionField])(n: String): Boolean = {
    val resolver = spark.sessionState.analyzer.resolver
    idFields.exists(pf => resolver(pf.sourceColumn, n) &&
      tupleRoundTrips(_meta.schema(pf.sourceColumn).dataType))
  }

  /** An expression a tuple decision may NOT contain: nondeterminism
    * (rand() must evaluate per ROW, not per tuple) and subqueries (their
    * inner plan reads tables). With `twoPhase` — for paths where the
    * tuple-pruning collect and the row-level apply are SEPARATE query
    * executions ([[scopedKeylessDelete]]) — current-time expressions are
    * also unsafe: deterministic within one query, but `current_date()`
    * could evaluate to different instants in the two executions and the
    * result would match no single-instant reading of the statement.
    * [[metadataDeleteWhere]]'s single evaluation IS the delete, so the
    * retention idiom `day < current_date() - 90` keeps its fast path.
    */
  private def tupleUnsafe(e: org.apache.spark.sql.catalyst.expressions.Expression,
                          twoPhase: Boolean): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    e.exists(x => !x.deterministic || x.isInstanceOf[PlanExpression[_]] ||
      (twoPhase && (x.isInstanceOf[CurrentDate] ||
        x.isInstanceOf[CurrentTimestampLike] || x.isInstanceOf[LocalTimestamp])))
  }

  private def metadataDeleteWhere(cond: org.apache.spark.sql.Column): Boolean = {
    val entries = currentEntries
    // Keyed tables take the manifest-drop path too (round 8) — sound
    // because scopes are partition-local within the (gated) single
    // epoch — unless the consumer opted into tombstone-precise deletes.
    val (tuples, tupleDf, idFields) =
      tupleRelation(entries, keyedRegionDropOk).getOrElse(return false)
    // Eligibility is read off the ANALYZED plan (a classic Column is an
    // opaque node until resolution): the predicate must resolve against
    // the tuple relation at all (else it references non-partition
    // columns — AnalysisException, eager in classic mode — and the
    // row-level path owns it), and the resolved condition must reference
    // only round-tripping identity sources and be tuple-safe
    // ([[tupleUnsafe]]).
    val filtered = try tupleDf.filter(coalesce(cond, lit(false))) catch {
      case _: org.apache.spark.sql.AnalysisException => return false
    }
    val conds = filtered.queryExecution.analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition }
    if (conds.isEmpty) return false
    if (!conds.forall(c =>
        c.references.forall(a => tupleRefOk(idFields)(a.name)) &&
          !tupleUnsafe(c, twoPhase = false)))
      return false
    val matched = filtered.select("__graft_tuple_idx").collect()
      .map(r => tuples(r.getInt(0))).toSet
    if (matched.isEmpty) return true // no region matches: semantic no-op, no version burnt
    commitManifestWithProps(entries.filterNot(e => matched.contains(e.partition)), barrierProp)
    true
  }

  /** Partition-SCOPED copy-on-write delete for keyless tables with a
    * MIXED predicate (`day < X AND quality < q` — a tuple-decidable
    * region conjunct times a row-level residual): only partitions the
    * decidable conjuncts can possibly match are rewritten; every other
    * partition's groups ride into the new manifest untouched. The
    * retention-with-residual shape then costs O(affected partitions)
    * instead of the full-table rewrite the plain COW fallback pays —
    * on a day-partitioned 100 TB log, one day's rewrite vs all of them.
    *
    * Soundness: a conjunct referencing only identity partition sources is
    * constant per tuple; where it evaluates FALSE or NULL the whole AND
    * is non-TRUE for every row in the tuple, so no row there matches and
    * the group cannot change. Tuples where every decidable conjunct is
    * TRUE (or that carry undecidable-only conjuncts) are rewritten
    * through the SAME survivor filter the plain path uses, so row
    * semantics are identical. Same eligibility gates as
    * [[metadataDeleteWhere]] (keyless, single epoch, round-tripping
    * identity sources, deterministic, no subqueries — per conjunct).
    * Returns true when it handled the delete; a predicate with no
    * decidable conjunct, or one that prunes nothing, falls through.
    */
  private def scopedKeylessDelete(cond: org.apache.spark.sql.Column): Boolean =
    scopedKeylessRewrite(cond, replacement = None)

  /** The shared engine of [[scopedKeylessDelete]] and the keyless
    * [[overwriteWhere]] fast path: prune to the partitions the decidable
    * region conjuncts can match, rewrite only those (survivors of
    * `!cond`, plus `replacement` for the overwrite shape), ride every
    * other group into the new manifest untouched.
    */
  /** The partition-pruning decision shared by every scoped keyless
    * path: analyze `cond` against the table schema, split conjuncts,
    * keep the tuple-decidable ones (twoPhase: the pruning collect and
    * the row-level apply are separate executions — see [[tupleUnsafe]]),
    * and evaluate them per live tuple. Returns (affected tuples,
    * all-conjuncts-decidable) — None when ineligible or nothing prunes.
    */
  /** Does this table's `delete.keyed-region-mode` permit the keyed
    * manifest-drop routes (metadata delete, pure-region overwrite)?
    * `tombstone` opts back into changelog-precise MoR deletes — ONE
    * gate shared by every keyed region fast path.
    */
  private def keyedRegionDropOk: Boolean =
    _meta.properties.getOrElse("delete.keyed-region-mode", "metadata") != "tombstone"

  private def regionPrune(cond: org.apache.spark.sql.Column,
                          allowKeyed: Boolean = false,
                          allowFull: Boolean = false)
      : Option[(Set[Map[String, String]], Boolean)] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Expression}
    val entries = currentEntries
    if (entries.isEmpty) return None
    val (tuples, tupleDf, idFields) =
      tupleRelation(entries, allowKeyed).getOrElse(return None)
    val probe = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], _meta.schema)
    val analyzed = try probe.filter(cond).queryExecution.analyzed catch {
      case _: org.apache.spark.sql.AnalysisException => return None
    }
    val conds = analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition }
    if (conds.size != 1) return None
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case x => Seq(x)
    }
    val allConjuncts = split(conds.head)
    val decidable = allConjuncts.filter(c =>
      c.references.nonEmpty &&
        c.references.forall(a => tupleRefOk(idFields)(a.name)) &&
        !tupleUnsafe(c, twoPhase = true))
    if (decidable.isEmpty) return None
    // re-resolve the decidable conjunction against the tuple relation
    // (fresh names, not the probe's attribute ids)
    val tuplePred = org.apache.spark.sql.graftbridge.GraftBridge.column(
      decidable.map(_.transform {
        case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
      }).reduce(And(_, _)))
    val affected = tupleDf.filter(tuplePred).select("__graft_tuple_idx")
      .collect().map(r => tuples(r.getInt(0))).toSet
    // keyless COW callers bail when nothing prunes (the scoped rewrite
    // would equal the plain one); the keyed drop route keeps the win
    // even on a full-region predicate (drop ALL entries, write batch)
    if (!allowFull && affected.size == tuples.size) return None
    Some((affected, decidable.size == allConjuncts.size))
  }

  private def scopedKeylessRewrite(cond: org.apache.spark.sql.Column,
                                   replacement: Option[DataFrame]): Boolean = {
    val entries = currentEntries
    val (affected, pureRegion) = regionPrune(cond).getOrElse(return false)
    // DELETE of a region no tuple can match: semantic no-op, no version
    // burnt. An OVERWRITE still writes its replacement batch (below).
    if (affected.isEmpty && replacement.isEmpty) return true
    val target = entries.filter(e => affected.contains(e.partition))
    val untouched = entries.filterNot(e => affected.contains(e.partition))
    val seq = _meta.currentVersion + 1
    val cols = _meta.schema.fieldNames.map(col).toIndexedSeq
    // PURE-REGION predicate (every conjunct tuple-decidable): the
    // decidable conjunction is TRUE for every row of every affected
    // tuple, so the survivors of !cond are provably empty — skip the
    // region read entirely (the backfill twin of the metadata delete:
    // drop the region's entries, write only the batch)
    // residual matching ZERO rows in the region: a delete would rewrite
    // identical content and stamp a barrier for a semantic no-op — probe
    // with a short-circuit scan first (bounded by the region, and far
    // cheaper than the rewrite it avoids)
    if (!pureRegion && replacement.isEmpty &&
        morRead(target).filter(coalesce(cond, lit(false))).isEmpty)
      return true
    val survivors: Option[DataFrame] =
      if (pureRegion) None
      else Some(morRead(target).filter(!coalesce(cond, lit(false))).select(cols: _*))
    val out: Option[DataFrame] = (survivors, replacement.map(_.select(cols: _*))) match {
      case (Some(sv), Some(b)) => Some(sv.unionByName(b))
      case (Some(sv), None)    => Some(sv)
      case (None, b)           => b
    }
    commitRegionRewrite(untouched, target, out, seq)
    true
  }

  /** The shared commit tail of the scoped keyless rewrites: write `out`
    * (when any) as the affected region's replacement groups and flip the
    * pointer. Nothing dropped AND nothing written (empty batch over a
    * no-match region) is a semantic no-op — no version burnt, same rule
    * as overwriteStaticRegion. Barrier only when existing groups drop
    * (rows vanish without tombstones); a pure insert into an empty
    * region stays append-shaped.
    */
  private def commitRegionRewrite(untouched: Seq[ManifestEntry],
                                  target: Seq[ManifestEntry],
                                  out: Option[DataFrame], seq: Long): Unit = {
    val newEntries = out.map(o => splitWriteGroups(withPartitionCols(o),
      Manifest.Data, _ => seq, seq)).getOrElse(Seq.empty)
    if (target.isEmpty && newEntries.isEmpty) return
    commitManifestWithProps(untouched ++ newEntries,
      if (target.nonEmpty) barrierProp else Map.empty)
  }

  /** Row-level DELETE (`DELETE FROM t WHERE cond`): rows where `cond` is
    * TRUE (null = kept) become tombstones in one merge-on-read commit —
    * table files are never rewritten. Cost: one table scan with the
    * predicate pushed to the file scan, plus an O(matched) write; the
    * Iceberg merge-on-read `DELETE` analogue. A predicate naming whole
    * partition regions short-circuits to [[metadataDeleteWhere]] on
    * keyed AND keyless tables alike (round 8; keyed opt-out:
    * `delete.keyed-region-mode=tombstone`). Keyless tables have no
    * equality-delete identity, so they fall back to copy-on-write
    * (`overwrite` of the survivors) — Iceberg's COW mode — unless the
    * predicate names whole partition regions ([[metadataDeleteWhere]]:
    * a manifest diff, zero files read or rewritten — the 100 TB
    * retention path) or carries a partition-region conjunct
    * ([[scopedKeylessDelete]]: only the possibly-matching partitions
    * are rewritten).
    */
  def deleteWhere(cond: org.apache.spark.sql.Column): Unit = labeled("deleteWhere") {
    if (metadataDeleteWhere(cond)) return
    if (scopedKeylessDelete(cond)) return
    if (_meta.identifierFields.isEmpty) {
      overwrite(read().filter(!coalesce(cond, lit(false))))
      return
    }
    val flagged = read().filter(coalesce(cond, lit(false)))
      .withColumn(TombstoneCol, lit(true))
    commitUpsertBatch(flagged, skipIfEmpty = true)
  }

  /** Row-level UPDATE (`UPDATE t SET ... WHERE cond`): matching rows are
    * re-emitted with `set` applied (values cast to the column's declared
    * type) as one merge-on-read commit — O(matched) write, no rewrite.
    *
    * Setting an identifier column or a partition SOURCE column emits a
    * tombstone for the old row alongside the new one in the same group:
    * equality-delete scopes are keyed (and partition-local), so without
    * the explicit tombstone the pre-update row would survive under its
    * old key / in its old partition. This makes key-moving and
    * partition-moving updates exact — tighter than the merge path's
    * documented partition-move limitation, which has no old-row handle.
    */
  def updateWhere(cond: org.apache.spark.sql.Column,
                  set: Map[String, org.apache.spark.sql.Column]): Unit = labeled("updateWhere") {
    val ids = _meta.identifierFields
    require(set.nonEmpty, "updateWhere requires at least one assignment")
    set.keys.foreach(k => require(_meta.schema.fieldNames.contains(k),
      s"unknown column $k"))
    if (ids.isEmpty) { keylessUpdate(cond, set); return }
    val matched = read().filter(coalesce(cond, lit(false)))
    val updated = matched.select(_meta.schema.fields.toSeq.map { f =>
      set.get(f.name).map(_.cast(f.dataType)).getOrElse(col(f.name)).as(f.name)
    }: _*).withColumn(TombstoneCol, lit(false))
    val partSrc = partitionFields.map(_.sourceColumn).toSet
    val needsTombstones = set.keySet.exists(k => ids.contains(k) || partSrc.contains(k))
    val flagged =
      if (needsTombstones)
        updated.unionByName(matched.withColumn(TombstoneCol, lit(true)))
      else updated
    commitUpsertBatch(flagged, skipIfEmpty = true)
  }

  /** Keyless UPDATE (Iceberg's copy-on-write UPDATE for tables without
    * row identity): rows where `cond` is TRUE get `set` applied, all
    * others pass through unchanged, committed as a rewrite. With a
    * partition-region conjunct in the predicate ([[regionPrune]]) only
    * the region's partitions rewrite — every other group rides the new
    * manifest untouched, so "re-price January where flagged" costs
    * O(affected partitions), not the table. A SET on a partition SOURCE
    * column is fine: rewritten rows land under their recomputed tuples
    * (an update can only move rows OUT of the affected region, never
    * create matches in untouched partitions — those rows never matched).
    * Rows change without tombstones, so the commit is barrier-stamped;
    * a region no tuple can match is a semantic no-op (no version).
    */
  private def keylessUpdate(cond: org.apache.spark.sql.Column,
                            set: Map[String, org.apache.spark.sql.Column]): Unit = {
    def applySet(df: DataFrame): DataFrame =
      df.select(_meta.schema.fields.toSeq.map { f =>
        set.get(f.name)
          .map(v => when(coalesce(cond, lit(false)), v.cast(f.dataType))
            .otherwise(col(f.name)).as(f.name))
          .getOrElse(col(f.name))
      }: _*)
    regionPrune(cond) match {
      case Some((affected, _)) =>
        if (affected.isEmpty) return // no tuple can match: no-op, no version
        val entries = currentEntries
        val target = entries.filter(e => affected.contains(e.partition))
        val untouched = entries.filterNot(e => affected.contains(e.partition))
        // residual matching zero rows: no-op, no rewrite, no barrier
        if (morRead(target).filter(coalesce(cond, lit(false))).isEmpty) return
        val seq = _meta.currentVersion + 1
        val out = applySet(
          morRead(target).select(_meta.schema.fieldNames.map(col).toIndexedSeq: _*))
        commitRegionRewrite(untouched, target, Some(out), seq)
      case None =>
        // zero-match probe first: the full-COW rewrite + barrier after a
        // no-op UPDATE would force changelog followers into a reseed
        if (read().filter(coalesce(cond, lit(false))).isEmpty) return
        overwrite(applySet(read()))
    }
  }

  /** SQL MERGE (`MERGE INTO t USING s ON t.pk = s.pk ...`) as one
    * merge-on-read commit. Clause `Column`s may reference both sides via
    * the aliases `t` (table) and `s` (source); clause order matches SQL —
    * matched rows check DELETE first, then UPDATE; unmatched source rows
    * check INSERT. `updateSet` empty = update every non-key column present
    * in the source by name (`UPDATE SET *`); unmatched TARGET rows are
    * untouched (and unread). Identifier/partition-source columns may not
    * be assigned (use [[updateWhere]], which tombstones the old identity).
    *
    * The source must be unique per key (the CDC path's C2 dedup contract);
    * duplicate source keys fan out the join and produce same-seq sibling
    * rows. Scale: ONE join of source vs state — for a single-identifier
    * table with manifest bounds the state scan is first pruned to the file
    * groups intersecting the source's key range (metadata-scale agg), so a
    * trickle merge reads a handful of groups, not the table; AQE picks the
    * join strategy from runtime sizes.
    *
    * BY SOURCE clauses (SQL `WHEN NOT MATCHED BY SOURCE` — the full-sync /
    * re-snapshot reconciliation shape: act on TARGET rows whose key is
    * absent from the source): `deleteBySourceWhen` tombstones them,
    * `updateBySourceWhen` + `updateBySourceSet` rewrites them in place
    * (there is no source row, so SET * is meaningless — an explicit set is
    * required, and clause `Column`s may reference only the `t` alias).
    * DELETE is checked before UPDATE, mirroring the matched branch.
    * Scale: the unmatched set inherently needs one full pass over the
    * target (no key-range prune can bound "absent from source"), executed
    * as a key anti-join — AQE broadcasts the source key projection when it
    * is small, making the pass a map-only scan; the WRITE stays diff-sized
    * (only rows an action fires on are rewritten, the reconcile contract of
    * [[graft.operators.Reconcile.repair]]).
    */
  def mergeInto(source: DataFrame,
                updateWhen: Option[org.apache.spark.sql.Column] = Some(lit(true)),
                updateSet: Map[String, org.apache.spark.sql.Column] = Map.empty,
                deleteWhen: Option[org.apache.spark.sql.Column] = None,
                insertWhen: Option[org.apache.spark.sql.Column] = Some(lit(true)),
                deleteBySourceWhen: Option[org.apache.spark.sql.Column] = None,
                updateBySourceWhen: Option[org.apache.spark.sql.Column] = None,
                updateBySourceSet: Map[String, org.apache.spark.sql.Column] = Map.empty,
                commitProperties: Map[String, String] = Map.empty,
                stageToBranch: Option[String] = None): Unit = labeled("mergeInto") {
    val ids = _meta.identifierFields
    require(ids.nonEmpty, "mergeInto requires identifier fields")
    // branch-staged merge (round 9): the same flagged batch, matched
    // against the BRANCH VIEW and staged onto the branch instead of
    // committed — see [[deleteWhereOnBranch]] for the model. The
    // properties check comes FIRST: requireBranchDml auto-creates the
    // branch, and a refused call must not leave one behind.
    require(stageToBranch.isEmpty || commitProperties.isEmpty,
      "commitProperties ride a live commit's pointer flip — they cannot " +
        "attach to a branch-staged merge")
    stageToBranch.foreach(requireBranchDml("MERGE", _))
    val partSrc = partitionFields.map(_.sourceColumn).toSet
    (updateSet.keys ++ updateBySourceSet.keys).foreach { k =>
      require(_meta.schema.fieldNames.contains(k), s"unknown column $k")
      require(!ids.contains(k) && !partSrc.contains(k),
        s"cannot assign identifier/partition column $k in mergeInto (use updateWhere)")
    }
    require(updateBySourceWhen.isEmpty || updateBySourceSet.nonEmpty,
      "updateBySourceWhen requires an explicit updateBySourceSet " +
        "(no source row exists to SET * from)")
    require(updateBySourceSet.isEmpty || updateBySourceWhen.isDefined,
      "updateBySourceSet without updateBySourceWhen would never apply")
    val srcCols = source.columns.toSet
    ids.foreach(i => require(srcCols.contains(i), s"source is missing identifier column $i"))

    // Materialize SMALL sources once (≤ 64 rows — the trickle shape): the
    // key-probe, the join and the BY SOURCE anti-join must see the SAME
    // rows, and a non-deterministic source plan (sampled/deduped upstream)
    // re-evaluated per action would otherwise drift — with key-list-pruned
    // state, a drifted key looks unmatched and INSERTS a same-seq sibling.
    //
    // Round 12: when the state scan will be key-range pruned (single
    // identifier with manifest bounds — the keyed-DML hot path), the
    // smallness probe is FOLDED into the pruning aggregate: one
    // count+min+max pass over the source instead of a bounded probe PLUS
    // the [min,max] aggregate, each re-executing the raw source subtree
    // (§1.2). A source the aggregate counted ≤ 64 pays one extra bounded
    // collect, but downstream still consumes only that single collected
    // materialization, so the determinism contract is unchanged (the
    // count is routing, not data). Tables that cannot key-prune keep the
    // single bounded probe — an unconditional aggregate would turn their
    // early-out probe into a full source pass for nothing.
    val keyPrunable = stageToBranch.isEmpty && ids.size == 1 &&
      statsTag(_meta.schema(ids.head).dataType).isDefined &&
      currentEntries.exists(_.stats.contains(ids.head))
    def localize(headRows: Array[org.apache.spark.sql.Row]) = {
      val local = spark.createDataFrame(
        spark.sparkContext.parallelize(headRows.toSeq, 1), source.schema)
      val keyIdx = source.schema.fieldIndex(ids.head)
      (local, if (ids.size == 1)
        Some(headRows.map(_.get(keyIdx)).filter(_ != null).distinct.toSeq)
      else None)
    }
    val (src0, smallKeys, keyBounds, pruneState) =
      if (keyPrunable) {
        val r = source
          .agg(count(lit(1)), min(col(ids.head)), max(col(ids.head))).head()
        if (r.getLong(0) <= 64L) {
          val headRows = source.limit(65).collect()
          if (headRows.length <= 64) {
            val (local, keys) = localize(headRows)
            (local, keys, None, true)
          }
          // A non-deterministic source counted ≤ 64 rows, then returned
          // 65: localizing them would silently truncate it, and the count's
          // key bounds describe another evaluation — merge the full plan
          // against unpruned state.
          else (source, None, None, false)
        } else (source, None, Some((r.get(1), r.get(2))), true)
      } else {
        val headRows = source.limit(65).collect()
        if (headRows.length <= 64) {
          val (local, keys) = localize(headRows)
          (local, keys, None, false)
        } else (source, None, None, false)
      }

    val s = src0.alias("s")
    val state = stageToBranch.map(readBranch)
      .getOrElse(statePrunedBySourceKeys(smallKeys, keyBounds, pruneState))
      .select(_meta.schema.fieldNames.map(col).toIndexedSeq: _*).alias("t")
    val joinCond = ids.map(i => col(s"s.$i") === col(s"t.$i")).reduce(_ && _)
    val joined = s.join(state, joinCond, "left_outer")
    // identifier fields are non-null in table rows (upsert key guard), so
    // "matched" is exactly the t-side key being present
    val isMatched = ids.map(i => col(s"t.$i").isNotNull).reduce(_ && _)
    def cl(c: Option[org.apache.spark.sql.Column]) =
      c.map(x => coalesce(x, lit(false))).getOrElse(lit(false))
    val action = when(isMatched && cl(deleteWhen), "D")
      .when(isMatched && cl(updateWhen), "U")
      .when(!isMatched && cl(insertWhen), "I")
    val acted = joined.withColumn("__graft_action", action)
      .filter(col("__graft_action").isNotNull)
    val valued = _meta.schema.fields.toSeq.map { f =>
      val tVal = col(s"t.${f.name}")
      val sVal = if (srcCols.contains(f.name)) col(s"s.${f.name}")
                 else lit(null).cast(f.dataType)
      val uVal =
        if (updateSet.contains(f.name)) updateSet(f.name)
        else if (updateSet.isEmpty && srcCols.contains(f.name) && !ids.contains(f.name)) sVal
        else tVal
      when(col("__graft_action") === "I", sVal)
        .when(col("__graft_action") === "U", uVal)
        .otherwise(tVal).cast(f.dataType).as(f.name)
    }
    val flagged = acted.select(
      valued :+ (col("__graft_action") === "D").as(TombstoneCol): _*)
    val withBySource =
      if (deleteBySourceWhen.isEmpty && updateBySourceWhen.isEmpty) flagged
      else {
        // Target rows whose key is absent from the source: a key anti-join
        // (broadcast when the source key projection is small), evaluated
        // against the SAME snapshot as the matched branch (both plans read
        // currentEntries of one version; the commit happens once, below).
        // Disjoint from the matched branch by construction — matched rows
        // have a source key, these provably do not — so the union stays
        // unique per key (the commitUpsertBatch contract).
        val tgt = stageToBranch.map(readBranch).getOrElse(read())
          .select(_meta.schema.fieldNames.map(col).toIndexedSeq: _*).alias("t")
        val sKeys = src0.select(ids.map(col).toIndexedSeq: _*).alias("s")
        val antiCond = ids.map(i => col(s"s.$i") === col(s"t.$i")).reduce(_ && _)
        val unmatched = tgt.join(sKeys, antiCond, "left_anti")
        val bsAction = when(cl(deleteBySourceWhen), "D")
          .when(cl(updateBySourceWhen), "U")
        val bsActed = unmatched.withColumn("__graft_action", bsAction)
          .filter(col("__graft_action").isNotNull)
        val bsValued = _meta.schema.fields.toSeq.map { f =>
          val tVal = col(s"t.${f.name}")
          val uVal = updateBySourceSet.getOrElse(f.name, tVal)
          when(col("__graft_action") === "U", uVal)
            .otherwise(tVal).cast(f.dataType).as(f.name)
        }
        flagged.unionByName(bsActed.select(
          bsValued :+ (col("__graft_action") === "D").as(TombstoneCol): _*))
      }
    stageToBranch match {
      case Some(b) => stageUpsertInto(withBySource, b)
      case None =>
        commitUpsertBatch(withBySource, skipIfEmpty = true,
          commitProperties = commitProperties)
    }
  }

  /** The table state a merge's join actually needs: for a
    * single-identifier table with manifest key bounds, only the file
    * groups that can hold the source's keys — sound because a source row
    * can only match a target row with the SAME key value (identifier
    * pruning drops every group kind). A SMALL source (≤ 64 rows — the
    * trickle-merge shape) probes its exact key list through
    * [[readPrunedConjunction]]: bounds ∧ Bloom per key, so 100 scattered
    * trickle keys open only the groups that might hold them instead of
    * every group intersecting [min, max]. Larger sources use the
    * [min, max] bounds mergeInto's single probe aggregate already
    * computed (round 12 — zero extra actions here); composite keys or
    * bound-less manifests read the full state.
    */
  private def statePrunedBySourceKeys(smallKeys: Option[Seq[Any]],
                                      keyBounds: Option[(Any, Any)],
                                      keyPrunable: Boolean): DataFrame = {
    val ids = _meta.identifierFields
    if (keyPrunable) {
      smallKeys match {
        case Some(keys) if keys.isEmpty => read().limit(0)
        case Some(keys) =>
          readPrunedConjunction(
            Seq(ManagedTable.PruneConjunct(ids.head, None, None, Some(keys))))
            .filter(col(ids.head).isin(keys: _*))
        case None => keyBounds match {
          case Some((lo, hi)) if lo != null => readKeyRange(ids.head, lo, hi)
          // > 64 rows, all with null keys: nothing can match
          case _ => read().limit(0)
        }
      }
    } else read()
  }

  /** Stats domain tag for a column type — integral / floating / string;
    * None = no bounds collected (never pruned on).
    */
  private def statsTag(dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some("i")
    case FloatType | DoubleType                        => Some("f")
    case StringType                                    => Some("s")
    case _                                             => None
  }

  /** `CALL graft.system.analyze(t, 'c1,c2')` — backfill or refresh
    * manifest column statistics (min/max, null count, approximate NDV)
    * for the named columns on every LIVE file group, as ONE metadata-only
    * commit (the Iceberg ANALYZE/compute-stats analogue). This is how a
    * pre-upgrade table gains the stats the round-11 consumers need
    * (top-N scan truncation, CBO selectivity), and how a user indexes
    * columns beyond the write path's identifier/cluster-by set.
    *
    * Cost: one distributed pass over the live data files (that is the
    * point of ANALYZE) + a manifest rewrite; existing per-group `rows`
    * and other columns' stats are untouched. Upsert groups are analyzed
    * over their RAW rows (tombstones included) — superset bounds, safe
    * for pruning, estimates for CBO. Empty column list = the write
    * path's stat columns (identifiers + cluster-by).
    *
    * Refuses columns carrying rename lineage or a seq-gated initial
    * default: their physical values differ from their read values
    * (pre-evolution files hold nulls the reader folds), so physical
    * bounds could miss values the fold materializes and WRONGLY prune —
    * `compact` normalizes the files first.
    */
  def analyzeColumns(requested: Seq[String] = Seq.empty): (Long, Seq[String]) = {
    val cols =
      if (requested.isEmpty) (_meta.identifierFields ++ clusterByCols).distinct
      else requested
    cols.foreach { c =>
      require(_meta.schema.fieldNames.contains(c),
        s"analyze: table ${_meta.name} has no column '$c'")
      require(!v2RenameAliasesLive.contains(c) && !v2ColumnDefaults.contains(c),
        s"analyze: column '$c' carries rename lineage or an initial default — " +
          s"physical bounds would diverge from read values; run CALL " +
          s"graft.system.compact('${_meta.name}') first")
    }
    val statCols = cols.flatMap(c => statsTag(_meta.schema(c).dataType).map(c -> _))
    require(statCols.nonEmpty,
      s"analyze: no analyzable column among [${cols.mkString(",")}] — " +
        "stats cover integral/floating/string types")
    val entries = currentEntries
    val dataEntries = entries.filterNot(_.kind == Manifest.PosDel)
    if (dataEntries.isEmpty) return (0L, statCols.map(_._1))
    // qualified group dir → entry path, for the per-file driver rollup
    val dirOf: Map[String, String] = dataEntries.map(e =>
      fs.makeQualified(new Path(tableDir, e.path)).toUri.getPath -> e.path).toMap
    val readSchema = StructType(statCols.map { case (c, _) =>
      _meta.schema(c).copy(nullable = true) })
    val scan = spark.read.schema(readSchema).format(format)
      .load(dataEntries.map(e => new Path(tableDir, e.path).toString): _*)
      .withColumn("__file", col("_metadata.file_path"))
    val aggs = count(lit(1)).as("__rows") +: statCols.flatMap { case (c, _) =>
      Seq(min(col(c)).as(s"mn_$c"), max(col(c)).as(s"mx_$c"),
        count(col(c)).as(s"nn_$c"), approx_count_distinct(col(c)).as(s"nd_$c")) }
    val perFile = scan.groupBy(col("__file")).agg(aggs.head, aggs.tail: _*).collect()
    val byEntry = perFile.groupBy { r =>
      val p = new Path(r.getString(r.fieldIndex("__file"))).toUri.getPath
      dirOf.getOrElse(p.substring(0, p.lastIndexOf('/')), null)
    }.filter(_._1 != null)
    var updated = 0L
    val rewritten = entries.map { e =>
      byEntry.get(e.path) match {
        case Some(rows) =>
          val fresh = statCols.collect(Function.unlift { case (c, tg) =>
            val mns = rows.map(_.get(rows.head.fieldIndex(s"mn_$c"))).filter(_ != null)
            val mxs = rows.map(_.get(rows.head.fieldIndex(s"mx_$c"))).filter(_ != null)
            // a bound is only sound when EVERY file contributed one —
            // an all-null file contributes none and bounds stay absent
            // (nulls/ndv would still be exact, but absent bounds cannot
            // mislead; same rule as file adoption)
            if (mns.length == rows.length && mxs.length == rows.length) {
              val nn = rows.map(_.getAs[Long](s"nn_$c")).sum
              Some(c -> ColBounds(tg,
                mns.minBy(v => SortKey(tg, v)), mxs.maxBy(v => SortKey(tg, v)),
                rows.map(_.getAs[Long]("__rows")).sum - nn,
                math.min(rows.map(_.getAs[Long](s"nd_$c")).sum, nn)))
            } else None
          }).toMap
          if (fresh.nonEmpty) { updated += 1; e.copy(stats = e.stats ++ fresh) }
          else e
        case None => e
      }
    }
    if (updated > 0) commitManifest(rewritten)
    (updated, statCols.map(_._1))
  }

  /** Write an immutable file group stamped with its commit sequence
    * number. Returns no entry for an empty group.
    *
    * Identifier-column min/max bounds ride along via `observe` — collected
    * DURING the write action (zero extra job, Iceberg's manifest column
    * bounds analogue) and recorded in the manifest entry for scan pruning.
    */
  /** Relative dir of a new file group — single source of the naming scheme
    * shared by Spark-written groups and driver-side json commits (the GC
    * retained-set match in [[commitManifest]] depends on it).
    */
  private def groupRel(kind: String, seq: Long): String =
    s"files/$kind-$seq-${java.util.UUID.randomUUID().toString.take(8)}"

  /** Route a group write: a SMALL batch whose plan is rooted only in local
    * relations (the pipeline's trickle fast path ships micro-batches as
    * local relations) is executed with collect() and written driver-side
    * by [[LocalCommit]] — one narrow job instead of the distributed write
    * machinery, whose fixed cost dominates a few-thousand-row file. Big
    * batches, partitioned tables, non-parquet formats and
    * non-driver-convertible types keep the distributed write.
    * `write.local-commit-max-rows` (0 disables) caps the driver
    * materialization.
    */
  /** Record a just-written group's physical files (name + bytes) into its
    * manifest entry — called at every NEW-entry construction site, where
    * the writer just produced the files and the one listing is local in
    * time and place. Scan planning then never lists: [[graft.catalog
    * .GraftScan]] builds splits from the manifest alone (zero LIST RPCs
    * per plan — the 100 TB object-store planning bottleneck the verdict
    * flagged), with listStatus kept only as the fallback for pre-upgrade
    * manifests. Hidden/metadata files (`_SUCCESS`, dot-temps) are
    * excluded with the exact filter the read paths apply.
    */
  private def stampFiles(e: ManifestEntry): ManifestEntry = {
    val dir = new Path(tableDir, e.path)
    if (!fs.exists(dir)) return e
    val fl = fs.listStatus(dir).collect {
      case s if s.isFile && !s.getPath.getName.startsWith(".") &&
          !s.getPath.getName.startsWith("_") =>
        GroupFile(s.getPath.getName, s.getLen)
    }
    e.copy(files = fl.toSeq)
  }

  private def writeGroupAuto(df: DataFrame, kind: String, seq: Long): Option[ManifestEntry] =
    writeGroupAutoLocal(df, kind, seq)._1

  /** As [[writeGroupAuto]], additionally returning the driver-collected,
    * seq-stamped rows + schema when the LocalCommit path fired — they are
    * byte-for-byte the just-written file's content, so [[posdelOnCommit]]
    * may read the batch's keys from them with ZERO extra jobs while still
    * honoring the decode-once / keys-from-the-written-group contract.
    */
  private def writeGroupAutoLocal(df: DataFrame, kind: String, seq: Long)
      : (Option[ManifestEntry], Option[(Seq[Row], StructType)]) = {
    val maxRows = _meta.properties.getOrElse("write.local-commit-max-rows", "20000").toInt
    val small = maxRows > 0 && format == "parquet" && !isPartitioned && {
      val leaves = df.queryExecution.logical.collectLeaves()
      // summed across leaves — see localWinners' gate
      leaves.nonEmpty && leaves.forall(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]) &&
        leaves.collect {
          case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
            l.data.length.toLong
        }.sum <= maxRows
    } && LocalCommit.writableSchema(df.schema)
    if (small) writeGroupDriver(df, kind, seq) else (writeGroup(df, kind, seq), None)
  }

  private def writeGroupDriver(df: DataFrame, kind: String, seq: Long)
      : (Option[ManifestEntry], Option[(Seq[Row], StructType)]) =
    writeGroupDriverRows(df.collect().toSeq, df.schema, kind, seq)

  private def writeGroupDriverRows(collected: Seq[Row], inSchema: StructType,
                                   kind: String, seq: Long)
      : (Option[ManifestEntry], Option[(Seq[Row], StructType)]) = {
    // Stamp the commit seq AFTER the collect, driver-side: withColumn(lit
    // (seq)) would inline a DIFFERENT compile-time constant into the
    // generated code every commit — a janino cache miss per micro-batch,
    // which in the trickle regime costs more than the batch itself.
    val hasSeq = inSchema.fieldNames.contains(SeqCol)
    if (collected.isEmpty) return (None, None)
    val (rows, schema) =
      if (hasSeq) (collected, inSchema)
      else (collected.map(r => Row.fromSeq(r.toSeq :+ seq)),
        StructType(inSchema.fields :+ StructField(SeqCol, LongType, nullable = false)))
    val rel = groupRel(kind, seq)
    val dir = new Path(tableDir, rel)
    fs.mkdirs(dir)
    // W10 parity: honor the rolling-file-size property like the
    // distributed writer's maxRecordsPerFile translation
    val rollAt = _meta.properties.get("write.target-file-size-bytes").map { bytesStr =>
      val rowBytes = _meta.properties.getOrElse("write.estimated-row-bytes", "256").toLong
      math.max(1L, bytesStr.toLong / math.max(1L, rowBytes)).toInt
    }.getOrElse(Int.MaxValue)
    rows.grouped(rollAt).zipWithIndex.foreach { case (chunk, i) =>
      LocalCommit.writeParquet(spark,
        new Path(dir, f"part-$i%05d.parquet"), schema, chunk)
    }
    val statCols = (_meta.identifierFields ++ clusterByCols).distinct
      .filter(inSchema.fieldNames.contains)
      .flatMap(c => statsTag(inSchema(c).dataType).map(c -> _))
    val blooms = keyBloomCols(inSchema).flatMap { c =>
      val idx = schema.fieldIndex(c)
      BloomMeta.fromValues(rows.iterator.map(_.get(idx)), schema(c).dataType,
        rows.length.toLong).map(c -> _)
    }.toMap
    (Some(stampFiles(ManifestEntry(rel, kind, seq,
      LocalCommit.bounds(rows, schema, statCols),
      rows = rows.length.toLong, blooms = blooms))), Some((rows, schema)))
  }

  private def writeGroup(df: DataFrame, kind: String, seq: Long): Option[ManifestEntry] = {
    val rel = groupRel(kind, seq)
    val dir = new Path(tableDir, rel)
    val statCols = (_meta.identifierFields ++ clusterByCols).distinct
      .filter(df.columns.contains)
      .flatMap(c => statsTag(df.schema(c).dataType).map(c -> _))
    val bloomCols = keyBloomCols(df.schema)
    // Row count + column bounds + identifier Bloom bits ride the write
    // action via observe — zero extra job; the count feeds metadata-only
    // counts ([[fastRowCount]]) and sizes the filters.
    val o = new org.apache.spark.sql.Observation(s"stats-$kind-$seq")
    val aggs = count(lit(1)).as("__rows") +: (statCols.flatMap { case (c, _) =>
      Seq(min(col(c)).as(s"mn_$c"), max(col(c)).as(s"mx_$c"),
        count(col(c)).as(s"nn_$c"), approx_count_distinct(col(c)).as(s"nd_$c")) } ++
      bloomAggs(bloomCols, df.schema))
    val toWrite = df.observe(o, aggs.head, aggs.tail: _*)
    // A df that already carries per-row seqs (compactMinor's fold) keeps
    // them — stamping would rewrite delete scopes; fresh commits get `seq`.
    val stamped =
      if (toWrite.columns.contains(SeqCol)) toWrite
      else toWrite.withColumn(SeqCol, lit(seq))
    PhaseTimer.time("wg.write-job") {
      applyWriteProps(stamped.write.mode("overwrite"))
        .format(format).save(dir.toString)
    }
    val hasFiles = fs.exists(dir) &&
      fs.listStatus(dir).exists(s => !s.getPath.getName.startsWith("_"))
    if (hasFiles) {
      val row = o.get
      val stats = statCols.collect { case (c, t)
        if row(s"mn_$c") != null && row(s"mx_$c") != null =>
        c -> ColBounds(t, row(s"mn_$c"), row(s"mx_$c"),
          row("__rows").asInstanceOf[Long] - row(s"nn_$c").asInstanceOf[Long],
          math.min(row(s"nd_$c").asInstanceOf[Long], row(s"nn_$c").asInstanceOf[Long]))
      }.toMap
      val n = row("__rows").asInstanceOf[Long]
      Some(stampFiles(ManifestEntry(rel, kind, seq, stats, rows = n,
        blooms = foldBlooms(bloomCols, df.schema, BloomMeta.bitsFor(n), row))))
    } else { fs.delete(dir, true); None }
  }

  /** Driver-side commit for metadata-scale tables (`write.format-default`
    * = json, unpartitioned): writes the given JSON-line rows as one file
    * group with plain FS I/O — no Spark job — through the same
    * group→manifest→pointer protocol. A single-row offset flush costs
    * milliseconds instead of a scheduled job; the read path
    * (explicit-schema json scan) is unchanged. `overwrite` replaces the
    * table content, like [[overwrite]].
    */
  def commitLocalJson(lines: Seq[String], overwrite: Boolean): Unit = {
    require(!isPartitioned && format == "json",
      "commitLocalJson is for unpartitioned json metadata tables")
    val seq = _meta.currentVersion + 1
    val rel = groupRel(Manifest.Data, seq)
    val dir = new Path(tableDir, rel)
    fs.mkdirs(dir)
    // stamp the commit seq into each row, like writeGroup does for Spark
    // writes, so readWithCommitSeq orders these commits too
    val mapper = ManagedTable.JsonMapper
    val stamped = lines.map { l =>
      val n = mapper.readTree(l).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      n.put(SeqCol, seq)
      mapper.writeValueAsString(n)
    }
    val out = fs.create(new Path(dir, "part-00000.json"), true)
    try out.write((stamped.mkString("\n") + "\n").getBytes("UTF-8")) finally out.close()
    val entry = stampFiles(ManifestEntry(rel, Manifest.Data, seq, rows = lines.length.toLong))
    commitManifest(if (overwrite) Seq(entry) else currentEntries :+ entry)
  }

  /** How many PREVIOUS manifests stay readable for time travel
    * (`write.versions-retained`, default 1 — the Iceberg
    * `write.metadata.previous-versions-max` / snapshot-expiry analogue).
    * Retention costs storage, not read speed: only the current manifest's
    * groups are ever scanned by [[read]].
    */
  private def versionsRetained: Int = {
    val raw = _meta.properties.getOrElse("write.versions-retained", "1")
    val v = try raw.toInt catch {
      case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"write.versions-retained must be a non-negative int, got '$raw'")
    }
    require(v >= 0, s"write.versions-retained must be >= 0, got $v")
    v
  }

  /** Commit a new manifest version and flip the meta pointer, then GC:
    * keep the last `versionsRetained` previous manifests (time travel) and
    * every file group any retained manifest references; drop the rest —
    * which also sweeps orphaned groups from crashed commits. Groups are
    * written before the manifest, the manifest before the pointer, so
    * every crash window leaves readers on a complete older version.
    */
  /** Optimistic-concurrency guard on every version flip: a commit from a
    * handle whose cached version no longer matches the on-disk pointer
    * fails (another writer committed since this handle loaded) instead
    * of silently clobbering that writer's snapshot. This detects every
    * STALE-handle commit; two writers racing the SAME version window are
    * serialized by [[claimVersion]]'s create-exclusive claim file.
    */
  private def requireCurrentPointer(): Unit =
    TableMeta.read(fs, tableDir).foreach { onDisk =>
      if (onDisk.currentVersion != _meta.currentVersion)
        throw new java.util.ConcurrentModificationException(
          s"table ${_meta.name}: version moved ${_meta.currentVersion} -> " +
            s"${onDisk.currentVersion} since this handle loaded; reload and retry")
      // metadata-only commits (tags/properties/evolution) bump metaGen
      // without moving the version — a stale handle would otherwise write
      // its cached pre-commit meta over them (and the GC would then sweep
      // a tag-pinned snapshot it no longer sees)
      if (onDisk.metaGen != _meta.metaGen)
        throw new java.util.ConcurrentModificationException(
          s"table ${_meta.name}: metadata generation moved ${_meta.metaGen} -> " +
            s"${onDisk.metaGen} since this handle loaded (concurrent tag/" +
            "properties/schema commit); reload and retry")
    }

  /** Every handle meta write goes through here: bump the metadata
    * generation so OTHER handles' [[requireCurrentPointer]] detects the
    * commit even when `currentVersion` did not move.
    */
  private def writeMeta(): Unit = {
    _meta = _meta.copy(metaGen = _meta.metaGen + 1)
    TableMeta.write(fs, tableDir, _meta)
  }

  private def lockPath(v: Long) = new Path(manifestsDir, s"v=$v.lock")

  /** Compare-and-swap on the version window: exactly one writer may create
    * `manifests/v=N.lock` (create-exclusive — the filesystem's atomic
    * claim primitive, the role an Iceberg catalog's atomic pointer swap
    * plays for the reference). Two handles that BOTH passed
    * [[requireCurrentPointer]] at version N−1 serialize here: the loser
    * gets the same reload-and-retry signal as a stale handle.
    *
    * A claim left by a writer that crashed before its pointer flip would
    * otherwise block the version forever, so claims carry a lease: once a
    * claim is older than `commit.lock-grace-ms` (default 5 min) with the
    * pointer still un-flipped, the commit is rolled back (pointer = commit
    * point, consistent with crash recovery everywhere else) and the claim
    * retaken. A commit that fails after claiming releases its claim so
    * fast-failing writers don't hold the lease.
    */
  /** The claim file carries a FENCE TOKEN (one UUID per commit attempt):
    * a lease-breaking writer retakes the claim with ITS token, and the
    * original claimant re-validates the token before every destructive
    * step — a live-but-slow writer that resumes after its lease expired
    * aborts instead of overwriting the lease-breaker's acknowledged
    * commit. Returns the token this commit attempt holds.
    */
  private def claimVersion(next: Long): String = {
    val token = java.util.UUID.randomUUID().toString
    val bytes = token.getBytes("UTF-8")
    // Hadoop's LOCAL filesystems implement create(overwrite=false) as an
    // exists-check-then-create — not atomic, so two racers can both
    // "succeed". Use the POSIX O_CREAT|O_EXCL primitive there; on real
    // DFS implementations (HDFS et al.) the namenode serializes creates.
    def tryCreate(): Boolean = fs match {
      case _: org.apache.hadoop.fs.LocalFileSystem | _: org.apache.hadoop.fs.RawLocalFileSystem =>
        try {
          val p = java.nio.file.Paths.get(lockPath(next).toUri.getPath)
          java.nio.file.Files.createFile(p)
          java.nio.file.Files.write(p, bytes)
          true
        } catch { case _: java.io.IOException => false }
      case _ =>
        try {
          val out = fs.create(lockPath(next), false)
          try out.write(bytes) finally out.close()
          true
        } catch { case _: java.io.IOException => false }
    }
    fs.mkdirs(manifestsDir)
    if (tryCreate()) return token
    val onDisk = TableMeta.read(fs, tableDir).map(_.currentVersion)
      .getOrElse(_meta.currentVersion)
    if (onDisk != _meta.currentVersion)
      throw new java.util.ConcurrentModificationException(
        s"table ${_meta.name}: lost the commit race for version $next " +
          s"(pointer moved to $onDisk); reload and retry")
    val graceMs = _meta.properties.getOrElse("commit.lock-grace-ms", "300000").toLong
    val ageMs = try
      System.currentTimeMillis() - fs.getFileStatus(lockPath(next)).getModificationTime
    catch { // claim vanished between create-fail and stat: owner finished or released
      case _: java.io.FileNotFoundException =>
        throw new java.util.ConcurrentModificationException(
          s"table ${_meta.name}: commit claim for version $next changed hands; reload and retry")
    }
    if (ageMs < graceMs)
      throw new java.util.ConcurrentModificationException(
        s"table ${_meta.name}: another writer holds the commit claim for version $next " +
          s"(age ${ageMs}ms < grace ${graceMs}ms); reload and retry")
    // lease expired with the pointer un-flipped: a crashed commit — roll
    // back its leftovers (never committed: the pointer is the commit
    // point) and retake the claim under OUR token, fencing the original
    // claimant out if it was merely slow rather than dead
    fs.delete(manifestPath(next), false)
    fs.delete(lockPath(next), false)
    if (!tryCreate())
      throw new java.util.ConcurrentModificationException(
        s"table ${_meta.name}: commit claim for version $next retaken by another writer; " +
          "reload and retry")
    token
  }

  /** Does the claim for `v` still carry OUR fence token? */
  private def claimHeld(v: Long, token: String): Boolean =
    try {
      val in = fs.open(lockPath(v))
      val content = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      content == token
    } catch { case _: java.io.IOException => false }

  private def requireClaim(v: Long, token: String): Unit =
    if (!claimHeld(v, token))
      throw new java.util.ConcurrentModificationException(
        s"table ${_meta.name}: commit claim for version $v was fenced " +
          "(lease expired and another writer took over); reload and retry")

  /** Commit with metadata properties riding the SAME pointer flip (or
    * rolled back with it) — the changelog-barrier stamp and similar
    * markers must never outlive a failed commit in the handle.
    */
  private def commitManifestWithProps(entries: Seq[ManifestEntry],
                                      props: Map[String, String]): Unit = {
    val prev = _meta
    _meta = _meta.copy(properties = _meta.properties ++ props)
    try commitManifest(entries)
    catch { case t: Throwable => _meta = prev; throw t }
  }

  /** Stamp for non-incremental state rewrites (full compact, overwrite,
    * rollback): changelog consumers whose `fromVersion` predates the
    * barrier cannot reconstruct deltas from [[readChangesBetween]] and
    * must rebuild (see [[MaterializedView.refresh]]).
    */
  private def barrierProp: Map[String, String] =
    Map(ManagedTable.BarrierKey -> (_meta.currentVersion + 1).toString)

  /** Drop the partition-spec epoch history once NOTHING retained still
    * references an old-epoch file group — every retained manifest's and
    * branch's entries are current-epoch (a full compact normalizes the
    * live snapshot; retention/expiry ages out the rest). After this,
    * reads stop paying the epoch CASE, the physical schema sheds dead
    * derived columns, and positional-delete sidecars become legal again.
    */
  private def maybeClearSpecHistory(): Unit = {
    if (specHistory.isEmpty) return
    val allEntries = versions().flatMap { case (v, _) =>
      Manifest.read(fs, manifestPath(v)).getOrElse(Seq.empty)
    } ++ liveBranchEntries
    if (allEntries.forall(e => entryEpoch(e.seq) == currentEpoch)) {
      requireCurrentPointer()
      _meta = _meta.copy(properties = _meta.properties - ManagedTable.SpecHistoryKey)
      writeMeta()
    }
  }

  private def commitManifest(entries: Seq[ManifestEntry]): Unit =
    commitManifestAt(entries, _meta.currentVersion + 1)

  /** [[commitManifest]] generalized to land the pointer at `target` ≥
    * currentVersion + 1 in ONE atomic flip (round 9) — the adopt-in-place
    * WAP publish of a multi-batch branch: staged groups carry contiguous
    * branch-local seqs currentVersion+1..target, and publishing them as
    * one commit must advance the version past ALL of them (a manifest at
    * currentVersion+1 holding entries with higher seqs would break the
    * changelog's "entry seq ≤ committed version" reading). The CLAIM is
    * always taken at currentVersion + 1 — the one slot every concurrent
    * writer also claims — so multi-version commits serialize with
    * single-version ones. Intermediate versions get no manifest file
    * (they were never committed snapshots; readVersion on them fails
    * precisely) but their SEQ numbers are owned by this commit's own
    * entries, so no later commit can mint a colliding seq — callers only
    * pass targets covered that way.
    */
  private def commitManifestAt(entries: Seq[ManifestEntry], target: Long): Unit = PhaseTimer.time("commit.tail") {
    requireCurrentPointer()
    val retainPrev = versionsRetained // validate BEFORE any mutation
    val prevMeta = _meta
    val next = _meta.currentVersion + 1
    require(target >= next, s"commit target $target behind next version $next")
    val fence = claimVersion(next)
    try {
      // fence check before touching the manifest slot: a writer resuming
      // from a long stall must not clobber a lease-breaker's manifest
      // (the residual race is the instant between this check and the
      // write — minutes shrunk to microseconds; an external catalog's
      // atomic swap is the full answer, as for the reference)
      requireClaim(next, fence)
      // holding the claim, any manifest already at `target` is a dead
      // leftover (its writer never flipped the pointer) — clear it so the
      // rename-in below can't collide with it
      fs.delete(manifestPath(target), false)
      Manifest.write(fs, manifestPath(target), entries, Some(System.currentTimeMillis()))
      // fence check strictly before the pointer flip: if our lease expired
      // and another writer retook the claim (and possibly committed its
      // own v=next), flipping now would overwrite an acknowledged commit.
      // The manifest written above is then debris the new owner already
      // cleared or will clear; never touch it again from this handle.
      requireClaim(next, fence)
      _meta = _meta.copy(currentVersion = target)
      writeMeta()
      // prime the per-version caches with what was just written — the
      // next read (often in the same micro-batch) skips a JSON re-parse,
      // and the GC diff below never re-reads its own commit
      entriesCache = (target, entries)
      manifestCache += (target -> entries)
      if (manifestCache.size > 64)
        manifestCache = manifestCache.toSeq.sortBy(-_._1).take(64).toMap
    } catch {
      case t: Throwable =>
        // Roll back ONLY if the pointer flip didn't land AND we still own
        // the claim (a fenced handle must not delete the new owner's
        // manifest or claim file).
        val onDisk = TableMeta.read(fs, tableDir).map(_.currentVersion).getOrElse(-1L)
        if (onDisk < next) {
          _meta = prevMeta
          if (claimHeld(next, fence)) {
            fs.delete(manifestPath(target), false)
            fs.delete(lockPath(next), false) // release the claim
          }
        }
        throw t
    }
    // Retention counts COMMITS, not version numbers: a k-batch adopt-in-
    // place publish jumps the pointer by k but is ONE commit, and the k-1
    // skipped numbers must not consume window slots — neither for the
    // jumping commit itself nor for any LATER commit (anchoring at
    // `next - retainPrev` would let a later commit's window swallow the
    // gap and expire pre-publish snapshots k-1 commits early). Anchor at
    // the retainPrev-th newest PRIOR manifest actually on disk; stray
    // non-numeric names are ignored, like the expiry loop below.
    //
    // Round 12 — group retirement is a MANIFEST DIFF, not a files/
    // listing. The former sweep listed every live group dir per commit —
    // O(live groups) FS RPCs, the one remaining object-store
    // scale-killer — and re-read each retained manifest from disk.
    // Retiring now deletes exactly (entries of the manifests leaving the
    // retention window) minus (every still-retained path), age-guarded by
    // the commit-lease grace as before; manifest reads go through a
    // per-handle immutable-manifest cache, so a steady-state commit
    // re-reads nothing. Crash debris (staged dirs that never committed)
    // is no longer referenced by any manifest and is therefore invisible
    // to the diff — sweeping it is [[removeOrphanFiles]] maintenance now
    // (Iceberg's own orphan story). The ONE listing left is the
    // manifests dir: O(retention window) entries, never O(table), and it
    // is required for cross-process correctness of the keepFrom anchor
    // (a concurrent writer may have advanced or gapped the window).
    val manifestStatuses =
      if (fs.exists(manifestsDir)) fs.listStatus(manifestsDir).toSeq else Seq.empty
    val priorCommits = manifestStatuses
      .map(_.getPath.getName)
      .filter(n => n.startsWith("v=") && n.endsWith(".json"))
      .flatMap(n => scala.util.Try(
        n.stripPrefix("v=").stripSuffix(".json").toLong).toOption)
      .filter(_ < target).sorted
    val keepFrom = priorCommits.takeRight(retainPrev).headOption.getOrElse(target)
    // Tagged snapshots are GC-protected outside the retention window: both
    // their manifest files and every file group those manifests reference
    // survive until the tag is dropped (see [[tag]]).
    val taggedVs = _meta.properties.collect {
      case (k, v) if k.startsWith(ManagedTable.TagPrefix) => v.toLong
    }.toSet
    val protectedVs = ((keepFrom until target) ++ taggedVs.filter(_ < keepFrom)).distinct
    // Unreadable-but-present protected manifests THROW out of
    // Manifest.read right here — before any deletion below — so a
    // transient store failure can never shrink `retained` into wrongly
    // classifying live groups as expired (None ⇔ missing, i.e. the
    // legitimate gap versions of multi-version publishes). Pinned by
    // ManagedTableSpec's corrupt-manifest GC test.
    val retained = (protectedVs.flatMap(readManifestCached) ++ entries ++
      liveBranchEntries) // WAP-staged groups: protected until publish/abandon
      .map(_.path).toSet
    val expiring = priorCommits.filter(v => v < keepFrom && !taggedVs.contains(v))
    // read the expiring manifests BEFORE the loop below deletes them;
    // deferred candidates from earlier commits re-check against the
    // CURRENT retained set (a rollback may have re-referenced them)
    retireGroups((expiring.flatMap(readManifestCached).map(_.path).toSet ++
      pendingRetire) -- retained)
    manifestStatuses.foreach { s =>
      val n = s.getPath.getName
      val ext = Seq(".json", ".lock").find(n.endsWith)
      if (n.startsWith("v=") && ext.isDefined) {
        scala.util.Try(n.stripPrefix("v=").stripSuffix(ext.get).toLong).toOption
          .foreach { v =>
            if (v < keepFrom && !(ext.get == ".json" && taggedVs.contains(v)))
              fs.delete(s.getPath, false)
          }
      }
    }
  }

  /** Group paths whose last referencing snapshot just left the retention
    * window, plus earlier candidates the age guard deferred. A candidate
    * younger than the commit-lease grace is NOT deleted yet — the same
    * conservatism the old files/ sweep applied (an in-flight reader of a
    * just-expired snapshot gets the grace to finish) — but unlike the old
    * sweep no later commit would reconsider it, so deferred candidates
    * carry forward on this handle ([[pendingRetire]]) and are re-checked
    * (against the then-current retained set) by every subsequent commit.
    * A handle lost to a crash leaves them as orphans for
    * [[removeOrphanFiles]], exactly like any other crash debris.
    */
  private def retireGroups(candidates: Set[String]): Unit = {
    if (candidates.isEmpty) { pendingRetire = Set.empty; return }
    val graceMs = _meta.properties.getOrElse("commit.lock-grace-ms", "300000").toLong
    val cutoff = System.currentTimeMillis() - graceMs
    val deferred = Set.newBuilder[String]
    candidates.foreach { p =>
      val path = new Path(tableDir, p)
      val st = try Some(fs.getFileStatus(path))
               catch { case _: java.io.IOException => None }
      st match {
        case None                               => () // already gone
        case Some(s) if landedAtMs(s) < cutoff  => fs.delete(path, true)
        case Some(_)                            => deferred += p
      }
    }
    pendingRetire = deferred.result()
  }

  /** Partitioned analogue of [[writeGroup]]: split one batch into one
    * immutable file group PER TOUCHED PARTITION in a single Spark write
    * job — a hive-layout staging write keyed on duplicated string
    * partition columns, then one directory rename per touched partition —
    * recording each group's partition tuple and column bounds in its
    * manifest entry. This is the Iceberg model: partition pruning is a
    * MANIFEST operation ([[readPartitions]]), not a directory listing.
    * The real partition columns stay INSIDE the data files (the staging
    * dir name is an artifact), so group files read exactly like
    * unpartitioned MoR groups. Mirrors the reference's
    * partition-granularity delta files
    * (SINK/tableoperator/PartitionedDeltaWriter.java:19-78).
    *
    * `seqOf` maps a partition tuple to the entry's sequence number —
    * constant for fresh commits; per-tuple max for [[compactMinor]] folds
    * (whose rows keep their original per-row seqs).
    *
    * Cost: the write job (batch-sized) plus one columnar stats/tuple
    * aggregate over the staged batch and a rename per touched partition.
    */
  private def splitWriteGroups(df: DataFrame, kind: String,
                               seqOf: Map[String, String] => Long,
                               defaultSeq: Long): Seq[ManifestEntry] = {
    val pnames = partitionFields.map(_.name)
    // staging key columns must NOT start with '_' — hive dirs named
    // `_...=v` are treated as hidden by Spark's readers (and ours)
    val ptCols = pnames.map(n => s"graftpt_$n")
    ptCols.foreach(c => require(!df.columns.contains(c),
      s"column $c collides with the staging partition key"))
    val dup = pnames.zip(ptCols).foldLeft(df) { case (d, (n, c)) =>
      d.withColumn(c, col(n).cast(StringType))
    }
    val sorted = sortForWrite(dup.repartition(ptCols.map(col): _*))
    val stamped =
      if (sorted.columns.contains(SeqCol)) sorted
      else sorted.withColumn(SeqCol, lit(defaultSeq))
    val staging = new Path(tableDir, s".stage-${java.util.UUID.randomUUID()}")
    try {
      PhaseTimer.time("swg.stage-write") {
        applyWriteProps(stamped.write.mode("overwrite"))
          .partitionBy(ptCols: _*).format(format).save(staging.toString)
      }
      val hasDirs = fs.exists(staging) && fs.listStatus(staging).exists(s =>
        s.isDirectory && !s.getPath.getName.startsWith("_"))
      if (!hasDirs) return Seq.empty
      // one columnar read-back of the staged batch: per-partition tuples +
      // min/max bounds in a single small aggregate (the Observation API is
      // global-only, so bounds-per-partition need this pass)
      val fileFields = stamped.schema.fields.filterNot(f => ptCols.contains(f.name))
      val readBack = StructType(fileFields ++
        ptCols.map(StructField(_, StringType, nullable = true)))
      val staged = spark.read.schema(readBack).option("basePath", staging.toString)
        .format(format).load(staging.toString)
      val statCols = (_meta.identifierFields ++ clusterByCols).distinct
        .filter(n => fileFields.exists(_.name == n))
        .flatMap(c => statsTag(readBack(c).dataType).map(c -> _))
      val bloomCols = keyBloomCols(readBack)
      val aggs = count(lit(1)).as("__n") +: (statCols.flatMap { case (c, _) =>
        Seq(min(col(c)).as(s"mn_$c"), max(col(c)).as(s"mx_$c"),
          count(col(c)).as(s"nn_$c"), approx_count_distinct(col(c)).as(s"nd_$c"))
      } ++ bloomAggs(bloomCols, readBack))
      val perPart = PhaseTimer.time("swg.readback-agg") {
        staged.groupBy(ptCols.map(col): _*).agg(aggs.head, aggs.tail: _*).collect()
      }
      perPart.toSeq.map { row =>
        def ptVal(c: String): String =
          Option(row.get(row.fieldIndex(c))).map(_.toString)
            .getOrElse(ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
        val tuple = pnames.zip(ptCols).map { case (n, c) => n -> ptVal(c) }.toMap
        val stats = statCols.collect { case (c, tg)
          if row.get(row.fieldIndex(s"mn_$c")) != null &&
             row.get(row.fieldIndex(s"mx_$c")) != null =>
          c -> ColBounds(tg, row.get(row.fieldIndex(s"mn_$c")), row.get(row.fieldIndex(s"mx_$c")),
            row.getAs[Long]("__n") - row.getAs[Long](s"nn_$c"),
            math.min(row.getAs[Long](s"nd_$c"), row.getAs[Long](s"nn_$c")))
        }.toMap
        val srcRel = ptCols.map(c =>
          ExternalCatalogUtils.getPartitionPathString(c, ptVal(c))).mkString("/")
        val rel = groupRel(kind, seqOf(tuple))
        val dst = new Path(tableDir, rel)
        fs.mkdirs(dst.getParent)
        if (!fs.rename(new Path(staging, srcRel), dst))
          throw new java.io.IOException(s"failed to stage partition group $rel")
        freshenGroupDir(dst)
        val n = row.getAs[Long]("__n")
        stampFiles(ManifestEntry(rel, kind, seqOf(tuple), stats, tuple, rows = n,
          blooms = foldBlooms(bloomCols, readBack, BloomMeta.bitsFor(n), row.getAs[Any](_))))
      }
    } finally fs.delete(staging, true)
  }

  /** Load-time sweep of staging directories a hard crash orphaned (the
    * `finally` cleanup never ran): merge/compact/cluster staging is only
    * referenced by the in-flight operation that created it, so at open
    * time — single-writer model — any survivor is invisible-to-readers
    * disk leak, never live data.
    */
  private[tables] def sweepOrphanStaging(): Unit = {
    if (fs.exists(tableDir)) fs.listStatus(tableDir).foreach { s =>
      val n = s.getPath.getName
      if (s.isDirectory && (n.startsWith(".stage-") || n.startsWith(".compact-") ||
          n.startsWith(".zcompact-")))
        fs.delete(s.getPath, true)
    }
    // branch manifests whose property commit never landed (crash between
    // manifest write and property set — the branch was never created /
    // the extension never took) and SUPERSEDED generation files a
    // [[stageAppendInto]] flip left behind. Lease-guarded like commit
    // claims — a LIVE writer may be in exactly that window right now
    // (this sweep runs on every load, including pure readers), so only
    // debris older than the grace period goes.
    val graceMs = _meta.properties.getOrElse("commit.lock-grace-ms", "300000").toLong
    // the commit claim slot is ALWAYS currentVersion + 1: while that lock
    // file lives, a committer may legitimately be past its manifest write
    // (possibly several slots ahead, at an adopt-in-place target) and
    // merely slow — even beyond the grace period, the claim is only ever
    // invalidated by another WRITER's lease break, never by a reader's
    // sweep. Deleting its manifest here would let the pointer flip land
    // on a version with no manifest file.
    val liveClaim = fs.exists(lockPath(_meta.currentVersion + 1L))
    if (fs.exists(manifestsDir)) fs.listStatus(manifestsDir).foreach { s =>
      val n = s.getPath.getName
      // version manifests AHEAD of the pointer: debris of a commit that
      // crashed between manifest write and pointer flip (the pointer is
      // the commit point; a multi-version branch publish can leave one
      // several slots ahead). Grace-guarded — a live committer is in
      // exactly that window right now — and claim-guarded (above); stray
      // non-numeric names are ignored rather than failing every load.
      if (n.startsWith("v=") && n.endsWith(".json")) {
        scala.util.Try(n.stripPrefix("v=").stripSuffix(".json").toLong).toOption
          .foreach { v =>
            if (v > _meta.currentVersion && !liveClaim &&
                System.currentTimeMillis() - s.getModificationTime > graceMs)
              fs.delete(s.getPath, false)
          }
      }
      if (n.startsWith("branch=") && n.endsWith(".json")) {
        val stem = n.stripPrefix("branch=").stripSuffix(".json")
        // "name" (base generation) or "name@g<k>" (a later generation)
        val branch = stem.indexOf('@') match {
          case -1 => stem
          case i  => stem.take(i)
        }
        val isCurrent = _meta.properties
          .get(ManagedTable.BranchPrefix + branch)
          .exists(_ => branchManifestPath(branch).getName == n)
        if (!isCurrent &&
            System.currentTimeMillis() - s.getModificationTime > graceMs)
          fs.delete(s.getPath, false)
      }
    }
  }

  /** W7 — atomically replace the whole table content (offset-store parity):
    * one data group, a manifest referencing only it.
    */
  /** TRUNCATE TABLE: one metadata-only commit referencing no groups —
    * nothing is scanned or rewritten at any table size; old snapshots
    * stay time-travelable under retention, and the changelog barrier is
    * stamped (incremental consumers must reseed across a truncate, like
    * an overwrite).
    */
  def truncate(): Unit = commitManifestWithProps(Seq.empty, barrierProp)

  def overwrite(df: DataFrame): Unit = labeled("overwrite") {
    val seq = _meta.currentVersion + 1
    val conformed = EventDecoder.conformTo(df, _meta.schema, temporalMode)
    val entries =
      if (isPartitioned)
        splitWriteGroups(withPartitionCols(conformed), Manifest.Data, _ => seq, seq)
      else writeGroup(sortForWrite(conformed), Manifest.Data, seq).toSeq
    commitManifestWithProps(entries, barrierProp)
  }

  /** Filter-scoped overwrite (Iceberg overwrite-by-filter / Delta
    * `replaceWhere`): atomically replace exactly the rows matching
    * `cond` with `batch` — the backfill primitive ("recompute March").
    * Keyed tables with a PURE-region predicate take the manifest-drop
    * fast path (round 8, below — O(batch), barrier-stamped; opt out via
    * `delete.keyed-region-mode=tombstone`); otherwise they commit ONE
    * merge-on-read group holding tombstones for every matched row plus
    * the new rows — O(matched + batch), nothing rewritten; same-seq
    * tombstone/insert siblings resolve exactly like
    * [[updateWhere]]'s identity changes. Keyless tables have no row
    * identity to tombstone; when the predicate carries a partition-region
    * conjunct they take the SCOPED copy-on-write path (only the region's
    * partitions rewrite — and a PURE-region predicate skips the region
    * read entirely: entries drop, only the batch is written), otherwise
    * copy-on-write of survivors ∪ batch (tuple-exact partitioned
    * backfills can also use [[overwritePartitions]] /
    * [[overwriteStaticRegion]]).
    *
    * The replaceWhere contract: every batch row must satisfy `cond` —
    * a row landing outside the replaced region would silently survive
    * the NEXT backfill of that region's complement. Violations throw
    * before anything commits. On KEYED tables the batch's keys must
    * also be UNIQUE (the same per-key contract as [[applyNetChanges]]):
    * duplicate keys land as same-seq sibling rows, and a LATER delete
    * of that key — key-scoped, like every equality delete — collapses
    * all siblings at once where row-scoped semantics would keep some.
    */
  def overwriteWhere(cond: org.apache.spark.sql.Column, batch: DataFrame): Unit = labeled("overwriteWhere") {
    val conformed = EventDecoder.conformTo(batch, _meta.schema, temporalMode)
    val outside = conformed.filter(!coalesce(cond, lit(false))).limit(1).count()
    require(outside == 0L,
      "overwriteWhere: batch rows must satisfy the replace condition " +
        "(a row outside the region would evade the next backfill)")
    if (_meta.identifierFields.isEmpty) {
      // partition-scoped when the predicate carries a region conjunct:
      // only the region's partitions rewrite (the batch lands inside the
      // region by the containment check above, so its tuples are a
      // subset of the affected set — or brand-new tuples in it)
      if (scopedKeylessRewrite(cond, replacement = Some(conformed))) return
      overwrite(read().filter(!coalesce(cond, lit(false))).unionByName(conformed))
      return
    }
    // KEYED pure-region backfill (round 8, the overwrite twin of the
    // keyed metadata delete): every conjunct tuple-decidable → the
    // region's entries (data, upsert and posdel together — scopes are
    // partition-local in the gated single epoch) drop as a manifest
    // diff and only the batch is written: O(batch), where the tombstone
    // path below pays O(matched region rows). Barrier-stamped (rows
    // vanish without tombstones); the same
    // `delete.keyed-region-mode=tombstone` property opts back into the
    // changelog-precise shape. Same-key rows in OTHER tuples survive on
    // both routes (scopes are partition-local — the documented
    // partition-move behavior), so the routes agree row-for-row.
    if (keyedRegionDropOk) {
      regionPrune(cond, allowKeyed = true, allowFull = true) match {
        case Some((affected, true)) =>
          val entries = currentEntries
          commitRegionRewrite(
            entries.filterNot(e => affected.contains(e.partition)),
            entries.filter(e => affected.contains(e.partition)),
            Some(conformed.select(_meta.schema.fieldNames.map(col).toIndexedSeq: _*)),
            _meta.currentVersion + 1)
          return
        case _ => () // mixed or ineligible: changelog-precise tombstones
      }
    }
    val tombstones = read().filter(coalesce(cond, lit(false)))
      .withColumn(TombstoneCol, lit(true))
    commitUpsertBatch(
      conformed.withColumn(TombstoneCol, lit(false)).unionByName(tombstones))
  }

  /** Dynamic partition overwrite (Iceberg `replacePartitions`, Spark's
    * `partitionOverwriteMode=dynamic`): atomically replace exactly the
    * partitions PRESENT in the batch — untouched partitions' groups are
    * never read, rewritten, or listed; one write of the batch plus one
    * manifest commit, the zero-rewrite backfill for partitioned tables.
    *
    * Single-spec-epoch tables only: after a partition evolution, old-
    * epoch groups carry a different tuple formula, so "the partitions in
    * the batch" cannot name the old-epoch groups covering the same rows
    * — run [[compact]] (which normalizes every group to the current
    * spec) first. Within one epoch, MoR delete scopes are partition-
    * local, so dropping a tuple's groups wholesale is delete-sound.
    */
  def overwritePartitions(batch: DataFrame): Unit = labeled("overwritePartitions") {
    require(isPartitioned, "overwritePartitions needs a partitioned table")
    val entries = currentEntries
    require(entries.forall(e => entryEpoch(e.seq) == currentEpoch),
      "overwritePartitions needs a single-spec-epoch table " +
        "(run compact() after a partition evolution first)")
    val seq = _meta.currentVersion + 1
    val conformed = EventDecoder.conformTo(batch, _meta.schema, temporalMode)
    val newEntries = splitWriteGroups(withPartitionCols(conformed),
      Manifest.Data, _ => seq, seq)
    if (newEntries.isEmpty) return // empty batch: no partitions to replace
    val replaced = newEntries.map(_.partition).toSet
    // Barrier-stamped like overwrite()/truncate(): replaced partitions'
    // rows vanish without tombstones, so changelog consumers ($changes,
    // readChangesBetween, MV refresh) must reseed across this commit —
    // a plain commit would silently keep the replaced rows downstream.
    commitManifestWithProps(
      entries.filterNot(e => replaced.contains(e.partition)) ++ newEntries, barrierProp)
  }

  /** STATIC partition overwrite (SQL `INSERT OVERWRITE … PARTITION (k=v)`):
    * atomically replace EVERY group whose tuple's identity component(s)
    * match the named values with `batch` — a zero-rewrite metadata drop
    * plus one write of the batch, like [[overwritePartitions]], but the
    * replaced set is the NAMED region rather than the batch's tuples:
    * under additional derived transforms (e.g. `identity(g), bucket(id)`)
    * every matching tuple is cleared even when the batch lands in only
    * some of them, and an EMPTY batch truncates the region — both per
    * SQL static-overwrite semantics, where dynamic overwrite would leave
    * stale siblings / silently no-op.
    *
    * Single-spec-epoch only, same soundness argument as
    * [[overwritePartitions]]; multi-epoch tables fall back to
    * [[overwriteWhere]]'s row-level path (correct at copy-on-write cost —
    * or run [[compact]] first to re-enable the metadata drop). KEYED
    * tables route through [[overwriteWhere]], whose pure-region fast
    * path (round 8) performs the SAME barrier-stamped metadata drop —
    * `delete.keyed-region-mode=tombstone` opts back into
    * changelog-precise MoR tombstones at O(matched + batch).
    */
  def overwriteStaticRegion(spec: Seq[(String, String)], batch: DataFrame): Unit = {
    require(isPartitioned, "overwriteStaticRegion needs a partitioned table")
    require(spec.nonEmpty, "overwriteStaticRegion needs at least one k=v pair")
    // validate BEFORE any routing: a non-identity spec key or a value
    // that does not cast must be refused identically in every epoch and
    // key state, not silently executed as a row-level value overwrite
    // (transformBound also wraps ANSI cast errors precisely)
    val comps = spec.map { case (k, v) =>
      val pf = partitionFields.find(p => p.transform == "identity" && p.sourceColumn == k)
        .getOrElse(throw new IllegalArgumentException(
          s"overwriteStaticRegion: '$k' is not an identity partition source " +
            s"of the current spec (${_meta.partitionBy.mkString(", ")})"))
      pf.name -> transformBound(pf, v)
    }
    def regionCond = spec.map { case (k, v) =>
      col(k) === lit(v).cast(_meta.schema(k).dataType)
    }.reduce(_ && _)
    if (_meta.identifierFields.nonEmpty) { overwriteWhere(regionCond, batch); return }
    val entries = currentEntries
    if (!entries.forall(e => entryEpoch(e.seq) == currentEpoch)) {
      overwriteWhere(regionCond, batch); return
    }
    def matches(t: Map[String, String]): Boolean =
      comps.forall { case (n, v) => t.get(n).contains(v) }
    val seq = _meta.currentVersion + 1
    val conformed = EventDecoder.conformTo(batch, _meta.schema, temporalMode)
    val newEntries = splitWriteGroups(withPartitionCols(conformed),
      Manifest.Data, _ => seq, seq)
    // region containment is checked on the WRITTEN tuples — zero extra
    // jobs; a violation aborts before the pointer flip (files GC'd)
    require(newEntries.forall(e => matches(e.partition)),
      "overwriteStaticRegion: batch rows must land in the named partition " +
        "region (a row outside it would evade the replace)")
    val dropped = entries.exists(e => matches(e.partition))
    // empty batch over an already-empty region: semantic no-op — don't
    // burn a version or force changelog consumers into a reseed
    if (newEntries.isEmpty && !dropped) return
    // barrier-stamped like overwritePartitions WHEN rows vanish without
    // tombstones (consumers must reseed); a pure insert into an empty
    // region is append-shaped and keeps the changelog incremental
    commitManifestWithProps(
      entries.filterNot(e => matches(e.partition)) ++ newEntries,
      if (dropped) barrierProp else Map.empty)
  }

  /** D6 — union-by-name evolution; commits metadata only on change.
    * Guarded like every data commit: a stale handle (another writer
    * committed since this one loaded) is rejected instead of silently
    * clobbering that writer's snapshot pointer with an old one.
    */
  def evolve(incoming: StructType, identifierFields: Seq[String] = Seq.empty): Boolean = {
    val merged = SchemaEvolution.union(_meta.schema, incoming)
    val ids = if (identifierFields.nonEmpty) identifierFields else _meta.identifierFields
    if (!SchemaEvolution.changed(_meta.schema, merged) && ids == _meta.identifierFields) false
    else {
      requireCurrentPointer()
      _meta = _meta.copy(schema = merged, identifierFields = ids)
      writeMeta()
      true
    }
  }

  /** ALTER TABLE RENAME COLUMN — metadata-only, no file rewritten: the
    * old name joins the column's rename lineage (`schema.renamed.<new>`)
    * and reads fold prior-name values in with coalesce ([[scanGroups]]).
    * Identifier fields and partition source columns are immutable (their
    * names are baked into delete scopes and partition tuples).
    */
  def renameColumn(oldName: String, newName: String): Unit = {
    require(_meta.schema.fieldNames.contains(oldName), s"no column '$oldName'")
    require(!_meta.identifierFields.contains(oldName), "cannot rename an identifier field")
    require(!allEpochPartitionFields.map(_.sourceColumn).contains(oldName),
      "cannot rename a partition source column (of any spec epoch)")
    requireFreshName(newName)
    requireCurrentPointer()
    val lineage = renameAliases.getOrElse(oldName, Seq.empty) :+ oldName
    val carried = Map(ManagedTable.RenamedPrefix + newName -> lineage.mkString(",")) ++
      _meta.properties.get(ManagedTable.DefaultPrefix + oldName)
        .map(ManagedTable.DefaultPrefix + newName -> _)
    _meta = _meta.copy(
      schema = StructType(_meta.schema.fields.map(f =>
        if (f.name == oldName) f.copy(name = newName) else f)),
      properties = _meta.properties -
        (ManagedTable.RenamedPrefix + oldName) -
        (ManagedTable.DefaultPrefix + oldName) ++ carried)
    writeMeta()
  }

  /** ALTER TABLE DROP COLUMN — metadata-only: old files keep the physical
    * column, the explicit-schema projection stops reading it. The name is
    * recorded as dropped: re-adding it would silently RESURFACE stale
    * values from pre-drop files (the classic by-name hazard field-id
    * formats avoid), so [[addColumn]] refuses reuse unless the table sets
    * `schema.allow-reused-names=true`.
    */
  def dropColumn(name: String): Unit = {
    require(_meta.schema.fieldNames.contains(name), s"no column '$name'")
    require(!_meta.identifierFields.contains(name), "cannot drop an identifier field")
    require(!allEpochPartitionFields.map(_.sourceColumn).contains(name),
      "cannot drop a partition source column (of any spec epoch)")
    require(_meta.schema.fields.length > 1, "cannot drop the last column")
    requireCurrentPointer()
    // the column's whole rename lineage becomes dropped too: pre-rename
    // files hold its values under the prior names, and re-adding ANY of
    // them would resurface those values exactly like reusing `name`
    val dropped = (renameAliases.getOrElse(name, Seq.empty) :+ name)
      .map(n => ManagedTable.DroppedPrefix + n -> _meta.currentVersion.toString)
    _meta = _meta.copy(
      schema = StructType(_meta.schema.fields.filterNot(_.name == name)),
      properties = _meta.properties -
        (ManagedTable.RenamedPrefix + name) -
        (ManagedTable.DefaultPrefix + name) ++ dropped)
    writeMeta()
  }

  /** ALTER TABLE ADD COLUMN, optionally with an initial default — the
    * Iceberg v3 initial-default: rows written BEFORE the add (per-row seq
    * at or below the add-time version) read the default where null; rows
    * written after keep their stored values, including intentional nulls.
    * Atomic types only (the literal round-trips through a string cast).
    */
  /** Shared new-name guard for [[addColumn]]/[[renameColumn]]: the name
    * must be genuinely fresh — not a live logical column, not a DERIVED
    * partition column (physicalSchema would hold two fields and every
    * read would fail on the duplicate), not prior-name lineage of a
    * renamed column (old files' values for the lineage would be read into
    * the new column), and not a previously-dropped name unless the table
    * explicitly opted into stale-value resurfacing.
    */
  private def requireFreshName(name: String): Unit = {
    require(name.nonEmpty && !name.startsWith("__"), s"invalid column name '$name'")
    require(!physicalSchema.fieldNames.contains(name),
      s"column '$name' already exists (or is a derived partition column)")
    require(!renameAliases.values.flatten.toSet.contains(name),
      s"column '$name' is prior-name lineage of a renamed column; " +
        "reusing it would shadow the lineage in old files")
    if (_meta.properties.contains(ManagedTable.DroppedPrefix + name) &&
        !_meta.properties.get("schema.allow-reused-names").contains("true"))
      throw new IllegalArgumentException(
        s"column '$name' was previously dropped; pre-drop files still hold its " +
          "values, which would resurface under by-name projection. Set table property " +
          "schema.allow-reused-names=true to accept that, or pick a fresh name.")
  }

  def addColumn(field: StructField, default: Option[String] = None): Unit = {
    requireFreshName(field.name)
    default.foreach { _ =>
      val atomic = field.dataType match {
        case _: ArrayType | _: MapType | _: StructType | _: BinaryType => false
        case _                                                         => true
      }
      require(atomic,
        s"defaults are supported for atomic types only, got ${field.dataType.catalogString}")
    }
    requireCurrentPointer()
    _meta = _meta.copy(
      schema = StructType(_meta.schema.fields :+ field.copy(nullable = true)),
      properties = _meta.properties -
        (ManagedTable.DroppedPrefix + field.name) ++
        default.map(d =>
          ManagedTable.DefaultPrefix + field.name -> s"${_meta.currentVersion}:$d"))
    writeMeta()
  }

  /** Same optimistic-concurrency guard as the data path (see [[evolve]]). */
  def setProperties(props: Map[String, String]): Unit = {
    requireCurrentPointer()
    _meta = _meta.copy(properties = _meta.properties ++ props)
    writeMeta()
  }

  /** Remove table properties (the UNSET side of [[setProperties]]) —
    * `ALTER TABLE … WRITE UNORDERED` and similar clears. Missing keys are
    * a no-op, matching SQL UNSET TBLPROPERTIES semantics.
    */
  def unsetProperties(keys: Seq[String]): Unit = {
    requireCurrentPointer()
    _meta = _meta.copy(properties = _meta.properties -- keys)
    writeMeta()
  }

  /** Re-key the table (`ALTER TABLE … SET IDENTIFIER FIELDS`) — metadata
    * only, but gated on a PLAIN-DATA state: identifier fields scope
    * merge-on-read resolution at READ time, so live upsert groups /
    * delete artifacts written under the old key would silently
    * reinterpret under the new one. Compact first; staged WAP branches
    * must publish or abandon for the same reason.
    */
  def setIdentifierFields(ids: Seq[String]): Unit = {
    require(ids.nonEmpty, "SET IDENTIFIER FIELDS needs at least one column")
    ids.foreach(i => require(_meta.schema.fieldNames.contains(i),
      s"identifier field '$i' is not a column of ${_meta.name} " +
        s"(${_meta.schema.fieldNames.mkString(", ")})"))
    if (ids == _meta.identifierFields) return
    require(currentEntries.forall(_.kind == Manifest.Data),
      s"cannot re-key ${_meta.name} with live merge-on-read state (upsert " +
        "groups / delete artifacts scope on the OLD key) — run CALL " +
        "graft.system.compact('" + _meta.name + "') first")
    require(branches().isEmpty,
      s"cannot re-key ${_meta.name} while WAP branches are staged " +
        "(publish or abandon them first)")
    requireCurrentPointer()
    _meta = _meta.copy(identifierFields = ids)
    writeMeta()
  }

  private def withPartitionCols(df: DataFrame): DataFrame =
    partitionFields.filter(_.transform != "identity")
      .foldLeft(df)((d, pf) => d.withColumn(pf.name, pf.expr))

  /** `write.sort-order` (`ALTER TABLE … WRITE ORDERED BY`, round 10):
    * comma-separated `col [ASC|DESC]` entries. When set it replaces the
    * default PK-ascending write sort (D5) — same cost shape, a
    * sortWithinPartitions on the write path, no extra shuffle.
    */
  private def writeSortOrder: Seq[(String, Boolean)] =
    _meta.properties.get("write.sort-order").toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty).map { tok =>
        val parts = tok.split("\\s+")
        (parts(0), parts.length < 2 || !parts(1).equalsIgnoreCase("desc"))
      }

  private def sortForWrite(df: DataFrame): DataFrame = {
    val ordered = writeSortOrder.filter { case (c, _) => df.columns.contains(c) }
    if (ordered.nonEmpty)
      df.sortWithinPartitions(ordered.map { case (c, asc) =>
        if (asc) col(c).asc else col(c).desc }: _*)
    else {
      val ids = _meta.identifierFields.filter(df.columns.contains)
      if (ids.isEmpty) df else df.sortWithinPartitions(ids.map(col): _*)
    }
  }

  /** W10 — rolling file size: honor the reference's
    * `write.target-file-size-bytes` table property by translating it to
    * Spark's maxRecordsPerFile using an estimated row width
    * (`write.estimated-row-bytes`, default 256). Writers then roll files
    * at ≈ the target size, like the reference's rolling writers
    * (IcebergTableWriterFactory.java:42-46).
    */
  private def applyWriteProps(w: org.apache.spark.sql.DataFrameWriter[Row]): org.apache.spark.sql.DataFrameWriter[Row] =
    _meta.properties.get("write.target-file-size-bytes").map { bytesStr =>
      val rowBytes = _meta.properties.getOrElse("write.estimated-row-bytes", "256").toLong
      w.option("maxRecordsPerFile", math.max(1L, bytesStr.toLong / math.max(1L, rowBytes)))
    }.getOrElse(w)

  /** Maintenance: rewrite the table's data files at the target file size.
    * The reference documents this operational need explicitly — upsert
    * tables accumulate small files / delete artifacts and "periodic
    * compaction" is required for read performance (docs/faq.md:3-7).
    *
    * Partitioned tables fold PER PARTITION TUPLE through the same
    * manifest commit as every other write (targeted: only tuples at/above
    * the small-group threshold are rewritten). Unpartitioned tables
    * commit a coalesced new version. Returns (files before, after).
    *
    * NOTE: on MoR tables this is a changelog history barrier — tombstones
    * are dropped, so [[readChangesBetween]] ranges that start before the
    * compacted version lose delete notifications (see its scaladoc).
    */
  def compact(): (Long, Long) = labeled("compact") {
    def countFiles(p: Path): Long =
      if (!fs.exists(p)) 0L
      else fs.listStatus(p).foldLeft(0L) { (acc, s) =>
        if (s.isDirectory) acc + countFiles(s.getPath)
        else if (s.getPath.getName.startsWith("_")) acc
        else acc + 1
      }
    // Live files: the current manifest's groups.
    def liveFiles(): Long =
      currentEntries.map(e => countFiles(new Path(tableDir, e.path))).sum
    val before = liveFiles()
    if (isPartitioned) {
      // Targeted: only partitions at/above the small-group threshold are
      // rewritten (`compact.min-input-files`, default 2 — cf. Iceberg's
      // binpack min-input-files). At 100 TB a compaction pass must not
      // rewrite the cold 99% of partitions a trickle stream never
      // touches. Folding whole tuples is delete-sound: delete scopes are
      // partition-local, so a tuple's full fold leaves nothing its
      // remaining deletes could hide, and untouched tuples keep theirs.
      val minInput = _meta.properties.getOrElse("compact.min-input-files", "2").toInt
      // A table holding old-epoch groups is fully rewritten (normalizing
      // every row to the current spec — the Iceberg "rewrite to latest
      // spec" maintenance step): targeted per-tuple folding would drop a
      // later epoch's GLOBAL delete scopes over the untouched tuples.
      val multiEpoch = currentEntries.exists(e => entryEpoch(e.seq) < currentEpoch)
      val targets =
        if (multiEpoch) currentEntries
        else currentEntries.groupBy(_.partition)
          .collect { case (_, es) if es.size >= minInput => es }.flatten.toSeq
      if (targets.nonEmpty) {
        // tombstones dropped, deletes applied — then derived partition
        // columns RECOMPUTED under the current spec (withColumn replaces):
        // the fold stamps rows at the new commit seq, i.e. the CURRENT
        // epoch, and a current-epoch row carrying an older epoch's
        // formula values would evade later same-epoch delete scopes
        // (chaos-differential regression)
        val folded = withPartitionCols(
          morRead(targets).select(_meta.schema.fieldNames.map(col).toIndexedSeq: _*))
        val seq = _meta.currentVersion + 1
        val newEntries = splitWriteGroups(folded, Manifest.Data, _ => seq, seq)
        commitManifestWithProps(
          currentEntries.filterNot(targets.contains) ++ newEntries, barrierProp)
      }
    } else {
      // Fold the MoR view (deletes applied, tombstones dropped) into one
      // fresh data group; the new manifest references only it, so upsert
      // groups stop costing reads. Output file count is sized from the
      // actual live bytes / target file size — not the cluster's
      // parallelism — so small-file piles fold to few files and a 100 TB
      // table still compacts to target-sized files in parallel.
      val targetBytes = _meta.properties
        .getOrElse("write.target-file-size-bytes", (512L * 1024 * 1024).toString).toLong
      def dirBytes(p: Path): Long =
        if (!fs.exists(p)) 0L
        else fs.listStatus(p).map(s => if (s.isDirectory) dirBytes(s.getPath) else s.getLen).sum
      val liveBytes = currentEntries.map(e => dirBytes(new Path(tableDir, e.path))).sum
      val nFiles = math.max(1L, (liveBytes + targetBytes - 1) / targetBytes).toInt
      if (clusterByCols.nonEmpty) {
        val explicit = _meta.properties.getOrElse("compact.cluster-groups", "0").toInt
        compactClusteredMoR(if (explicit > 0) explicit else math.max(nFiles, 2))
      } else {
        // repartition (not coalesce) keeps the read side parallel
        val folded = read().repartition(nFiles)
        val seq = _meta.currentVersion + 1
        val entry = writeGroup(sortForWrite(folded), Manifest.Data, seq)
        commitManifestWithProps(entry.toSeq, barrierProp)
      }
    }
    maybeClearSpecHistory()
    (before, liveFiles())
  }

  /** `write.cluster-by` columns (comma-separated) — when set, full MoR
    * compaction lays the table out in z-order (see [[ZOrder]]).
    */
  private def clusterByCols: Seq[String] =
    _meta.properties.get("write.cluster-by").toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)

  /** Clustered full compaction: fold the MoR view, range-partition it by
    * z-value over the cluster columns, and commit EACH range slice as its
    * own data group — so every group's manifest bounds are narrow on
    * every clustered column and [[readColRange]] prunes on any of them.
    *
    * Cost shape at 100 TB: the fold/write pass dominates (it is the same
    * pass an unclustered compact runs); clustering adds one tiny min/max
    * aggregate (2 columns, map-side partials), the range-partitioner's
    * boundary sampling, and a bounds aggregate over the staged output
    * that scans only the clustered + identifier columns (columnar).
    * Groups land via directory rename — no second data copy.
    */
  private def compactClusteredMoR(groups: Int): Unit = {
    val cols = clusterByCols
    cols.foreach { c =>
      require(_meta.schema.fieldNames.contains(c), s"cluster-by column $c not in schema")
      require(statsTag(_meta.schema(c).dataType).exists(t => t == "i" || t == "f"),
        s"cluster-by column $c is not numeric")
    }
    val seq = _meta.currentVersion + 1
    val folded = read()
    val staging = new Path(tableDir, s".zcompact-${java.util.UUID.randomUUID()}")
    try {
      val staged = folded
        .withColumn("__zv", ZOrder.zValue(folded, cols))
        .repartitionByRange(groups, col("__zv"))
        .sortWithinPartitions("__zv")
        .withColumn("__zb", spark_partition_id())
        .withColumn(SeqCol, lit(seq))
        .drop("__zv")
      applyWriteProps(staged.write.mode("overwrite"))
        .partitionBy("__zb").format(format).save(staging.toString)
      val statCols = (cols ++ _meta.identifierFields).distinct
        .flatMap(c => statsTag(_meta.schema(c).dataType).map(c -> _))
      val bloomCols = keyBloomCols(_meta.schema)
      val aggs = count(lit(1)).as("__n") +: (statCols.flatMap { case (c, _) =>
        Seq(min(col(c)).as(s"mn_$c"), max(col(c)).as(s"mx_$c"),
          count(col(c)).as(s"nn_$c"), approx_count_distinct(col(c)).as(s"nd_$c")) } ++
        bloomAggs(bloomCols, _meta.schema))
      val boundRows = spark.read.option("basePath", staging.toString).format(format)
        .load(staging.toString)
        .groupBy(col("__zb")).agg(aggs.head, aggs.tail: _*).collect()
      val entries = boundRows.toSeq.map { row =>
        val bucket = row.get(row.fieldIndex("__zb")).toString
        val stats = statCols.collect { case (c, t)
          if row.get(row.fieldIndex(s"mn_$c")) != null &&
             row.get(row.fieldIndex(s"mx_$c")) != null =>
          c -> ColBounds(t, row.get(row.fieldIndex(s"mn_$c")), row.get(row.fieldIndex(s"mx_$c")),
            row.getAs[Long]("__n") - row.getAs[Long](s"nn_$c"),
            math.min(row.getAs[Long](s"nd_$c"), row.getAs[Long](s"nn_$c")))
        }.toMap
        val rel = groupRel(Manifest.Data, seq)
        val dst = new Path(tableDir, rel)
        fs.mkdirs(dst.getParent)
        if (!fs.rename(new Path(staging, s"__zb=$bucket"), dst))
          throw new java.io.IOException(s"failed to stage clustered group $rel")
        freshenGroupDir(dst)
        val n = row.getAs[Long]("__n")
        stampFiles(ManifestEntry(rel, Manifest.Data, seq, stats, rows = n,
          blooms = foldBlooms(bloomCols, _meta.schema, BloomMeta.bitsFor(n), row.getAs[Any](_))))
      }
      commitManifestWithProps(entries, barrierProp)
    } finally fs.delete(staging, true)
  }

}

object ManagedTable {

  private[tables] val JsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** One pushed conjunct for composite manifest pruning
    * ([[ManagedTable.readPrunedConjunction]]): an INCLUSIVE range
    * [lo, hi] on column `c` — equality when both bounds carry the same
    * value (enables Bloom probing), an open side is None — or, when
    * `values` is set, an IN LIST (the entry passes if ANY value might be
    * present: bounds ∧ Bloom ∧ tuple per value; lo/hi are ignored).
    * Values must be in the column's external Scala domain (the caller's
    * type-coercion contract, same as [[ManagedTable.readWhereEq]]); an
    * EMPTY value list matches nothing and prunes everything — sound,
    * since the caller re-applies the exact predicate.
    */
  final case class PruneConjunct(c: String, lo: Option[Any], hi: Option[Any],
                                 values: Option[Seq[Any]] = None)

  /** The exact (min, max) of one column over groups' bounds — the one
    * bounds fold behind manifest-answered min/max and the V2 scan's CBO
    * column statistics. Compares with [[StatsPrune.cmpBound]] (integral
    * as Long, so a 64-bit id past 2^53 never ties with its double-rounded
    * neighbour). None when `bounds` is empty, the groups disagree on the
    * domain, or a value does not fit it.
    */
  private[graft] def boundsRange(bounds: Seq[ColBounds]): Option[(Any, Any)] = {
    if (bounds.isEmpty) return None
    val tag = bounds.head.t
    var mn = bounds.head.min
    var mx = bounds.head.max
    for (b <- bounds) {
      if (b.t != tag) return None
      (StatsPrune.cmpBound(tag, b.min, mn), StatsPrune.cmpBound(tag, b.max, mx)) match {
        case (Some(lo), Some(hi)) =>
          if (lo < 0) mn = b.min
          if (hi > 0) mx = b.max
        case _ => return None
      }
    }
    Some((mn, mx))
  }

  /** Reserved property prefix for snapshot tags ([[ManagedTable.tag]]). */
  val TagPrefix = "ref.tag."

  /** Reserved property prefix for WAP branches ([[ManagedTable.stageAppend]]). */
  val BranchPrefix = "ref.branch."

  /** Rename lineage: `schema.renamed.<current>` = comma-joined prior names. */
  val RenamedPrefix = "schema.renamed."

  /** Initial defaults: `schema.default.<name>` = "<addVersion>:<literal>". */
  val DefaultPrefix = "schema.default."

  /** Dropped-name registry: `schema.dropped.<name>` = version at drop. */
  val DroppedPrefix = "schema.dropped."

  /** Partition-spec evolution history ([[ManagedTable.updatePartitionSpec]]):
    * `;`-joined epochs of `<boundaryVersion>:<spec1>|<spec2>|...` — groups
    * with seq <= boundaryVersion were written under that spec.
    */
  val SpecHistoryKey = "partition.spec.history"

  /** Land-time sentinel file inside each group dir ([[ManagedTable
    * .freshenGroupDir]]); dot-named so every reader skips it.
    */
  val LandSentinel = ".landed"

  /** Version of the last NON-INCREMENTAL state rewrite (full compact /
    * overwrite / rollback) — the changelog history barrier: incremental
    * consumers whose `fromVersion` predates it must rebuild instead of
    * reading deltas.
    */
  val BarrierKey = "changelog.barrier-version"

  /** Thrown by [[ManagedTable.readVersion]] when the requested snapshot's
    * manifest has been expired by retention — the one RECOVERABLE
    * time-travel failure, so incremental consumers
    * ([[MaterializedView.refresh]]) can match it precisely and fall back
    * to a rebuild without swallowing unrelated argument errors.
    */
  final class RetentionLostException(msg: String) extends IllegalArgumentException(msg)

  /** Commit-sequence-number column stamped into every MoR file group. */
  val SeqCol = "__graft_seq"

  /** Recovers the commit seq from a group file's path for ADOPTED files
    * (no per-row seq column, see [[ManagedTable.addFiles]]): group dirs
    * are named `<kind>-<seq>-<8-hex-uuid>` by `groupRel`. Capture group 2
    * is the seq.
    */
  private[tables] val GroupSeqPattern =
    "/files/(data|upsert)-([0-9]+)-[0-9a-f]{8}/[^/]+$"

  /** Renamed seq column on the delete side of the MoR anti-join. */
  val DelSeqCol = "__graft_del_seq"

  /** Hard-delete marker rows inside upsert groups (keepDeletes=false):
    * they delete older versions via the anti-join but are themselves
    * invisible to readers and dropped by compaction.
    */
  val TombstoneCol = "__graft_tombstone"

  /** Schema of a posdel sidecar file: absolute data-file path + row
    * position within it ([[materializePositionalDeletes]]).
    */
  val PosDelSchema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("pos", LongType, nullable = false)))

  /** Scan-side metadata column aliases used by the posdel anti-join. */
  private[tables] val PosFileCol = "__graft_pos_file"
  private[tables] val PosIdxCol = "__graft_pos_idx"

  /** D3 — auto-create from an inferred schema. */
  def create(
      spark: SparkSession,
      warehouse: String,
      name: String,
      schema: StructType,
      identifierFields: Seq[String] = Seq.empty,
      partitionBy: Seq[String] = Seq.empty,
      properties: Map[String, String] = Map.empty
  ): ManagedTable = {
    val fs = TableMeta.fs(spark.sparkContext.hadoopConfiguration, warehouse)
    val dir = new Path(warehouse, name)
    require(!fs.exists(new Path(dir, "meta.json")), s"table $name already exists")
    // strict parse validates the spec up front (D4 strict mode)
    PartitionSpecParser.parse(partitionBy, schema.fieldNames.toSet)
    fs.mkdirs(dir)
    val meta = TableMeta(name, schema, identifierFields, partitionBy, properties, 0L)
    // every table starts from an empty manifest (all tables are MoR)
    Manifest.write(fs, new Path(new Path(dir, "manifests"), "v=0.json"), Seq.empty)
    TableMeta.write(fs, dir, meta)
    new ManagedTable(spark, warehouse, meta)
  }

  /** D7 — load if present. Sweeps any staging debris a crash left behind
    * before handing the table out.
    */
  def load(spark: SparkSession, warehouse: String, name: String): Option[ManagedTable] = {
    val fs = TableMeta.fs(spark.sparkContext.hadoopConfiguration, warehouse)
    TableMeta.read(fs, new Path(warehouse, name)).map { m =>
      val t = new ManagedTable(spark, warehouse, m)
      t.sweepOrphanStaging()
      t
    }
  }

  def loadOrCreate(
      spark: SparkSession,
      warehouse: String,
      name: String,
      schema: => StructType,
      identifierFields: => Seq[String] = Seq.empty,
      partitionBy: Seq[String] = Seq.empty,
      properties: Map[String, String] = Map.empty
  ): ManagedTable =
    load(spark, warehouse, name)
      .getOrElse(create(spark, warehouse, name, schema, identifierFields, partitionBy, properties))

  /** All tables in a warehouse (dirs with a meta.json). */
  def list(spark: SparkSession, warehouse: String): Seq[String] = {
    val fs = TableMeta.fs(spark.sparkContext.hadoopConfiguration, warehouse)
    val root = new Path(warehouse)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && fs.exists(new Path(s.getPath, "meta.json")))
      .map(_.getPath.getName).sorted
  }

  /** Expose every warehouse table to `spark.sql` as a temp view — the SQL
    * surface the reference's own tests use to verify written tables
    * (TEST/BaseSparkTest.java:170-178 reads Iceberg tables via Spark SQL);
    * here queries run against the current snapshot at call time.
    */
  def registerAllViews(spark: SparkSession, warehouse: String): Seq[String] = {
    val names = list(spark, warehouse)
    names.foreach { n =>
      load(spark, warehouse, n).foreach(_.read().createOrReplaceTempView(n))
    }
    names
  }
}
