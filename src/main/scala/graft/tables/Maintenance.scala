package graft.tables

/** Policy-driven table maintenance — the ops runbook as code. The
  * reference leaves compaction/expiry to external Iceberg maintenance
  * jobs (docs/faq.md "tables need periodic maintenance"); graft ships
  * the decision layer: one metadata-scale look at the manifest picks the
  * cheapest action that restores the read-amplification invariants, in
  * escalation order:
  *
  *  1. nothing — the table is already within bounds;
  *  2. [[ManagedTable.compactMinor]] — the trickle suffix of upsert
  *     groups exceeds `maxTrickleGroups` (per partition tuple for
  *     partitioned tables): fold it, never touching the base;
  *  3. [[ManagedTable.materializePositionalDeletes]] — some partition
  *     tuple's equality-delete scopes exceed `maxDeleteScopes` AFTER
  *     minor folding: reset that delete side for one scan, writing only
  *     (file, pos) pairs (per touched tuple on partitioned tables;
  *     multi-epoch tables split each scope into its epoch-local and
  *     cross-epoch roles since round 8);
  *  4. [[ManagedTable.compact]] — the live-file count still exceeds
  *     `maxLiveFiles` (small-file accumulation compaction tiers can't
  *     fold away), or old partition-spec epochs linger: full rewrite at
  *     the target file size, normalizing everything.
  *
  * Optionally [[ManagedTable.expireSnapshots]] ages out manifests older
  * than `expireOlderThanMs`. Every decision reads ONLY the manifest
  * (plus a files-dir listing for tier 4) — running `plan` on a healthy
  * 100 TB table costs milliseconds and touches no data.
  */
object Maintenance {

  final case class Policy(
      maxTrickleGroups: Int = 8,
      maxDeleteScopes: Int = 16,
      maxLiveFiles: Int = 256,
      expireOlderThanMs: Option[Long] = None,
      /** Keep manifest Bloom filters ([[ManagedTable.buildBlooms]]) on
        * these columns: tier 5 rebuilds when more than
        * `maxBloomlessGroups` live groups lack one — fresh commits and
        * compaction outputs arrive without filters on non-identifier
        * columns, so this tier restores point-lookup pruning after the
        * cheaper tiers reshuffle the groups (it runs LAST for exactly
        * that reason). Identifier columns need no entry here: every
        * commit, compaction included, writes their filters.
        */
      bloomCols: Seq[String] = Seq.empty,
      maxBloomlessGroups: Int = 8
  )

  /** One maintenance action taken (or recommended), human-readable. */
  final case class Action(kind: String, detail: String)

  /** Decide which tiers a table currently needs — metadata only, nothing
    * runs. Order matches the escalation ladder.
    */
  def plan(table: ManagedTable, policy: Policy = Policy()): Seq[Action] = {
    val files = table.filesMetadata().collect()
    val byKind = files.groupBy(_.getString(1))
    val upserts = byKind.getOrElse(Manifest.Upsert, Array.empty)
    val actions = Seq.newBuilder[Action]
    // A tuple's lowest-seq entry is the base readers never anti-join
    // against (nothing older exists for it to hide) — exclude it from
    // both read-amplification metrics, matching morResolve's skip.
    val minSeqByTuple = files.groupBy(_.getAs[Map[String, String]]("partition"))
      .map { case (p, es) => p -> es.map(_.getLong(2)).min }
    def isBase(r: org.apache.spark.sql.Row) =
      r.getLong(2) == minSeqByTuple(r.getAs[Map[String, String]]("partition"))
    // tier 2: trickle depth per partition tuple (distinct upsert commits
    // above the tuple's base — the delete-side breadth a read pays)
    val trickleDepth =
      if (upserts.isEmpty) 0
      else upserts.groupBy(_.getAs[Map[String, String]]("partition"))
        .map(_._2.filterNot(isBase).map(_.getLong(2)).distinct.size).max
    if (trickleDepth > policy.maxTrickleGroups)
      actions += Action("compactMinor",
        s"trickle depth $trickleDepth > ${policy.maxTrickleGroups}")
    // tier 3: equality scopes a read must still anti-join — the base and
    // scopes at or below the tuple's newest posdel sidecar seq are already
    // skipped/absorbed; counted PER PARTITION TUPLE (unpartitioned tables
    // have the one empty tuple), since that is the per-read breadth and
    // the unit the per-tuple materializer recovers. Multi-epoch tables
    // qualify too (round 8): the materializer splits each scope into its
    // epoch-local and cross-epoch roles (the per-tuple count here treats
    // a later-epoch tuple-minimum group as base — a conservative
    // undercount that only delays the tier, never misfires it).
    val appliedByTuple = byKind.getOrElse(Manifest.PosDel, Array.empty)
      .groupBy(_.getAs[Map[String, String]]("partition"))
      .map { case (p, es) => p -> es.map(_.getLong(2)).max }
    val scopes = upserts.filterNot(isBase)
      .groupBy(_.getAs[Map[String, String]]("partition"))
      .map { case (p, es) =>
        val applied = appliedByTuple.getOrElse(p, Long.MinValue)
        es.map(_.getLong(2)).distinct.count(_ > applied)
      }.maxOption.getOrElse(0)
    // the one remaining unsupported shape: a table partitioned in a PRIOR
    // epoch but unpartitioned NOW (the id-only sidecar would over-apply
    // old partition-scoped deletes — compact() is that recovery)
    val materializable = table.meta.partitionBy.exists(_.trim.nonEmpty) ||
      !table.meta.properties.contains(ManagedTable.SpecHistoryKey)
    if (materializable && scopes > policy.maxDeleteScopes)
      actions += Action("materializePositionalDeletes",
        s"$scopes live delete scopes in a tuple > ${policy.maxDeleteScopes}")
    // tier 4: live file-group count (manifest entries stand in for file
    // counts at plan time; compact() recounts exactly)
    if (files.length > policy.maxLiveFiles)
      actions += Action("compact", s"${files.length} live groups > ${policy.maxLiveFiles}")
    // tier 5: bloom coverage — after the rewrite tiers, since compaction
    // outputs are filter-less by construction
    if (policy.bloomCols.nonEmpty) {
      val (have, total) = table.bloomCoverage(policy.bloomCols)
      if (total - have > policy.maxBloomlessGroups)
        actions += Action("buildBlooms",
          s"${total - have} groups without filters > ${policy.maxBloomlessGroups}")
    }
    policy.expireOlderThanMs.foreach(ts =>
      actions += Action("expireSnapshots", s"older than $ts"))
    actions.result()
  }

  /** Run the needed tiers in escalation order, re-planning after each so
    * a minor fold that restores the invariants skips the heavier tiers.
    * Each tier runs AT MOST ONCE per call (a table whose steady state
    * legitimately exceeds a threshold — e.g. more target-size files than
    * `maxLiveFiles` — must not loop). Returns the executed actions.
    */
  def run(table: ManagedTable, policy: Policy = Policy()): Seq[Action] = {
    val done = scala.collection.mutable.ArrayBuffer.empty[Action]
    var acted = Set.empty[String]
    var continue = true
    while (continue) {
      plan(table, policy)
        .filterNot(a => acted(a.kind) || a.kind == "expireSnapshots")
        .headOption match {
        case None => continue = false
        case Some(a) =>
          acted += a.kind
          a.kind match {
            case "compactMinor" =>
              val (before, after) = table.compactMinor()
              done += a.copy(detail = s"${a.detail}; groups $before -> $after")
            case "materializePositionalDeletes" =>
              val pairs = table.materializePositionalDeletes()
              done += a.copy(detail = s"${a.detail}; $pairs pairs")
            case "compact" =>
              val (before, after) = table.compact()
              done += a.copy(detail = s"${a.detail}; files $before -> $after")
            case "buildBlooms" =>
              val n = table.buildBlooms(policy.bloomCols)
              done += a.copy(detail = s"${a.detail}; $n entries filtered")
          }
      }
    }
    policy.expireOlderThanMs.foreach { ts =>
      val n = table.expireSnapshots(ts)
      done += Action("expireSnapshots", s"older than $ts; $n expired")
    }
    done.toSeq
  }
}
