package graft

import graft.cdc._
import graft.dedup._
import graft.operators.AsOfJoin
import graft.sampling.Sampling
import graft.similarity.Knn
import graft.text.TextFunctions
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The driver-checked operator inventory: every entry pairs a Spark
  * implementation (running through the graft library operators) with ANSI
  * SQL the DuckDB oracle replays on the same parquet tables.
  *
  * Conventions that keep the hash-compare honest across engines:
  *  - every aggregate / computed column is aliased identically on both sides
  *  - money-ish double sums go through decimal(18,2/4) (exact, associative —
  *    no float summation-order drift between engines)
  *  - float math that must stay float (cosine) is rounded to 6 dp
  *  - temporal outputs are formatted to fixed-width strings
  *  - integer outputs are cast to BIGINT on both sides
  */
object Queries {

  type QueryFn = (SparkSession, String) => DataFrame

  final case class Q(name: String, fn: QueryFn, oracle: Option[String])

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Rounds replayed by the unrolled DuckDB BPE oracle (each round is one
    * CTE trio; 20 pins the trainer's argmax/tie-break/apply semantics
    * without ballooning the oracle plan).
    */
  private val BpeMergeRounds = 20

  /** Generates the unrolled-round DuckDB replay of the BPE merge loop —
    * see [[textBpeMerges]] for the encoding argument.
    */
  private def bpeMergesOracle(rounds: Int): String = {
    val S = "chr(31)"           // symbol separator, absent from the corpus
    val SS = s"$S||$S"          // double separator between symbols
    val header =
      s"""WITH toks AS (SELECT list_filter(string_split_regex(lower(text), '\\s+'),
         |    x -> len(x) > 0) AS tk FROM documents),
         |wc AS (SELECT w AS word, count(*)::BIGINT AS n
         |  FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY w),
         |topw AS (SELECT word, n FROM wc ORDER BY n DESC, word LIMIT 50000),
         |v0 AS MATERIALIZED (SELECT syms, n FROM (
         |    SELECT (cs[:len(cs)-1] || [cs[len(cs)] || '</w>']) AS syms, n
         |    FROM (SELECT string_split(word, '') AS cs, n FROM topw))
         |  WHERE len(syms) > 1)""".stripMargin
    val roundCtes = (0 until rounds).map { r =>
      val next =
        if (r == rounds - 1) "" // last round needs no rewritten vocabulary
        else s""",
           |v${r + 1} AS MATERIALIZED (SELECT syms, n FROM (
           |    SELECT list_filter(string_split(replace(
           |        $SS || array_to_string(syms, $SS) || $SS,
           |        $S || b.a || $SS || b.b || $S,
           |        $S || b.a || b.b || $S), chr(31)), x -> len(x) > 0) AS syms, n
           |    FROM v$r CROSS JOIN b$r b)
           |  WHERE len(syms) > 1)""".stripMargin
      s""",
         |p$r AS MATERIALIZED (SELECT a, b, sum(n)::BIGINT AS cnt FROM (
         |    SELECT pr[1] AS a, pr[2] AS b, n FROM (
         |      SELECT unnest([[syms[i], syms[i+1]] for i in range(1, len(syms))]) AS pr, n
         |      FROM v$r))
         |  GROUP BY a, b),
         |b$r AS MATERIALIZED (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1)""".stripMargin + next
    }.mkString
    val union = (0 until rounds).map { r =>
      s"SELECT ${r + 1}::BIGINT AS merge_rank, a AS lhs, b AS rhs, cnt AS pair_count FROM b$r"
    }.mkString("\n", "\nUNION ALL ", "")
    header + roundCtes + union
  }

  /** events.parquet carries TIMESTAMP(NANOS). Depending on the Spark
    * build, that infers either as a nanos LONG (older releases honoring
    * spark.sql.legacy.parquet.nanosAsLong=true, which Verify/Bench/tests
    * still set) or natively as TIMESTAMP_NTZ truncated to micros (current
    * builds ignore the legacy conf). Both roads end at the same
    * micros-precision TIMESTAMP — truncate-divide for the long form, an
    * ntz→tz cast (identity instant under the UTC session tz) for the
    * native form — matching DuckDB's epoch_us(ts) truncation exactly.
    */
  private def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = t(spark, dir, "events")
    raw.withColumn("ts", raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => timestamp_micros(expr("ts div 1000"))
      case _                                   => col("ts").cast("timestamp")
    })
  }

  // ---------------------------------------------------------------- CDC ops

  /** The events table viewed as a CDC changelog: key = user_id, op derived
    * from event_type, dedup column = epoch-micros, arrival = event_id.
    */
  private def cdcEvents(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).select(
      col("user_id"), col("event_id"),
      when(col("event_type") === "signup", "c")
        .when(col("event_type") === "error", "d")
        .otherwise("u").as("__op"),
      unix_micros(col("ts")).as("ts_us"),
      col("event_type"), col("value"),
      (col("event_type") === "error").as("__deleted"),
      col("event_id").as(Dedup.ArrivalCol))

  private val cdcEventsSql =
    """SELECT user_id, event_id,
      |  CASE WHEN event_type='signup' THEN 'c' WHEN event_type='error' THEN 'd' ELSE 'u' END AS __op,
      |  epoch_us(ts) AS ts_us, event_type, value,
      |  (event_type='error') AS __deleted
      |FROM events""".stripMargin

  private val opPrioSql =
    "CASE WHEN __op IN ('c','i') THEN 1 WHEN __op='r' THEN 2 WHEN __op='u' THEN 3 WHEN __op='d' THEN 4 ELSE 0 END"

  private def cdcCols = Seq("user_id", "event_id", "__op", "ts_us", "event_type", "value", "__deleted")

  private def emptyLike(spark: SparkSession, df: DataFrame): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], df.schema)

  val cdcDedup = Q("cdc_dedup_last_per_key",
    (s, dir) => Dedup.deduplicate(cdcEvents(s, dir), Seq("user_id"), "ts_us")
      .select(cdcCols.map(col): _*),
    Some(s"""WITH e AS ($cdcEventsSql),
      |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
      |        ORDER BY ts_us DESC, $opPrioSql DESC, event_id DESC) AS rn FROM e)
      |SELECT user_id, event_id, __op, ts_us, event_type, value, __deleted
      |FROM r WHERE rn = 1""".stripMargin))

  /** C7 — per key, was the first-arriving op an INSERT? (the reference's
    * pre-delete skip flag, BaseDeltaTaskWriter.java:56-60). Arrival order
    * is the deterministic event_id, so the flag is oracle-checkable.
    */
  val cdcNewKeyFlag = Q("cdc_new_key_flag",
    (s, dir) => Dedup.withNewKeyFlag(cdcEvents(s, dir), Seq("user_id"))
      .select(col("user_id"), col("__is_new_key")).distinct(),
    Some("""WITH e AS (SELECT user_id, event_id,
      |  CASE WHEN event_type='signup' THEN 'c' WHEN event_type='error' THEN 'd' ELSE 'u' END AS __op
      |  FROM events)
      |SELECT user_id, (min_by(__op, event_id) IN ('c','i')) AS __is_new_key
      |FROM e GROUP BY user_id""".stripMargin))

  val cdcUpsertHard = Q("cdc_upsert_hard_delete",
    (s, dir) => {
      val batch = cdcEvents(s, dir)
      CdcApply.upsert(emptyLike(s, batch.drop(Dedup.ArrivalCol)), batch, Seq("user_id"),
        CdcApply.UpsertConfig(keepDeletes = false, dedupColumn = "ts_us"))
        .select(cdcCols.map(col): _*)
    },
    Some(s"""WITH e AS ($cdcEventsSql),
      |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
      |        ORDER BY ts_us DESC, $opPrioSql DESC, event_id DESC) AS rn FROM e)
      |SELECT user_id, event_id, __op, ts_us, event_type, value, __deleted
      |FROM r WHERE rn = 1 AND __op <> 'd'""".stripMargin))

  /** W3–W5/D4/W6 through the driver's oracle: the changelog folded into a
    * BUCKET-PARTITIONED merge-on-read table — three ts-range batches merged
    * sequentially (per-touched-partition seq-stamped upsert groups through
    * the manifest pointer-flip commit), then read back through the MoR
    * resolve. MoR merge semantics are "incoming batch replaces the key"
    * (the reference's delete+insert, BaseDeltaTaskWriter.java:52-72), so
    * the batches are sliced on the dedup column itself: a key's later
    * events always land in later batches, which makes the sequential fold
    * provably equal to the one-shot relational fold the oracle runs. Each
    * slice is pre-deduped WITH the deterministic arrival column so
    * within-batch full ties resolve by event_id exactly like the oracle's
    * `event_id DESC`.
    */
  val cdcUpsertPartitioned = Q("cdc_upsert_partitioned",
    (s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft_part_mor").toString
      val log = cdcEvents(s, dir)
      val tbl = graft.tables.ManagedTable.create(s, wh, "events_state",
        log.drop(Dedup.ArrivalCol).schema, Seq("user_id"),
        partitionBy = Seq("bucket(4,user_id)"))
      val cfg = CdcApply.UpsertConfig(keepDeletes = false, dedupColumn = "ts_us")
      val cuts = Seq(Long.MinValue, 1705276800000000L, 1706227200000000L, Long.MaxValue)
      cuts.sliding(2).foreach { case Seq(lo, hi) =>
        val slice = log.where(col("ts_us") >= lo && col("ts_us") < hi)
        tbl.merge(Dedup.deduplicate(slice, Seq("user_id"), "ts_us"), cfg)
      }
      tbl.read().select(cdcCols.map(col): _*)
    },
    Some(s"""WITH e AS ($cdcEventsSql),
      |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
      |        ORDER BY ts_us DESC, $opPrioSql DESC, event_id DESC) AS rn FROM e)
      |SELECT user_id, event_id, __op, ts_us, event_type, value, __deleted
      |FROM r WHERE rn = 1 AND __op <> 'd'""".stripMargin))

  /** Partition-spec evolution under CDC load: the table starts
    * bucket(4,user_id), evolves to bucket(8,user_id) after the first
    * slice and to unpartitioned after the second — nothing is rewritten
    * at either boundary ([[graft.tables.ManagedTable.updatePartitionSpec]]),
    * and the final state must still equal the relational CDC fold: old
    * groups stay delete-scoped under the spec they were written with,
    * cross-epoch upsert scopes apply globally on the key.
    */
  val partitionEvolution = Q("partition_evolution",
    (s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft_pevo").toString
      val log = cdcEvents(s, dir)
      val tbl = graft.tables.ManagedTable.create(s, wh, "events_state",
        log.drop(Dedup.ArrivalCol).schema, Seq("user_id"),
        partitionBy = Seq("bucket(4,user_id)"))
      val cfg = CdcApply.UpsertConfig(keepDeletes = false, dedupColumn = "ts_us")
      val cuts = Seq(Long.MinValue, 1705276800000000L, 1706227200000000L, Long.MaxValue)
      val specs = Seq(None, Some(Seq("bucket(8,user_id)")), Some(Seq.empty[String]))
      cuts.sliding(2).zip(specs.iterator).foreach {
        case (Seq(lo, hi), spec) =>
          spec.foreach(tbl.updatePartitionSpec)
          val slice = log.where(col("ts_us") >= lo && col("ts_us") < hi)
          tbl.merge(Dedup.deduplicate(slice, Seq("user_id"), "ts_us"), cfg)
        case _ => ()
      }
      tbl.read().select(cdcCols.map(col): _*)
    },
    Some(s"""WITH e AS ($cdcEventsSql),
      |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
      |        ORDER BY ts_us DESC, $opPrioSql DESC, event_id DESC) AS rn FROM e)
      |SELECT user_id, event_id, __op, ts_us, event_type, value, __deleted
      |FROM r WHERE rn = 1 AND __op <> 'd'""".stripMargin))

  /** Partition-spec evolution driven through SQL DDL (round 10 —
    * `ALTER TABLE … ADD/DROP/REPLACE PARTITION FIELD`, the Iceberg
    * extension grammar at graft's parser seam): the same three-slice CDC
    * fold as `partition_evolution`, but every epoch boundary is an ALTER
    * statement — REPLACE rebuckets 4→8 after slice one, DROP goes
    * unpartitioned after slice two. Runtime-asserts the spec after each
    * statement; the final state must still equal the relational fold
    * (old groups stay delete-scoped under the spec they were written
    * with).
    */
  val sqlPartitionEvolutionDdl = Q("sql_partition_evolution_ddl",
    (s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft_pevoddl").toString
      val log = cdcEvents(s, dir)
      val tbl = graft.tables.ManagedTable.create(s, wh, "events_pfd",
        log.drop(Dedup.ArrivalCol).schema, Seq("user_id"),
        partitionBy = Seq("bucket(4,user_id)"))
      val cfg = CdcApply.UpsertConfig(keepDeletes = false, dedupColumn = "ts_us")
      val cuts = Seq(Long.MinValue, 1705276800000000L, 1706227200000000L, Long.MaxValue)
      val alters = Seq(None,
        Some("REPLACE PARTITION FIELD bucket(4, user_id) WITH bucket(8, user_id)"
          -> Seq("bucket(user_id,8)")),
        Some("DROP PARTITION FIELD bucket(8, user_id)" -> Seq.empty[String]))
      withGraftSession(s, wh) { s2 =>
        cuts.sliding(2).zip(alters.iterator).foreach {
          case (Seq(lo, hi), alter) =>
            alter.foreach { case (stmt, want) =>
              s2.sql(s"ALTER TABLE graft.events_pfd $stmt")
              val got = graft.tables.ManagedTable.load(s2, wh, "events_pfd")
                .get.meta.partitionBy
              require(got == want, s"spec after '$stmt': $got, wanted $want")
            }
            val slice = log.where(col("ts_us") >= lo && col("ts_us") < hi)
            graft.tables.ManagedTable.load(s, wh, "events_pfd").get
              .merge(Dedup.deduplicate(slice, Seq("user_id"), "ts_us"), cfg)
          case _ => ()
        }
      }
      graft.tables.ManagedTable.load(s, wh, "events_pfd").get
        .read().select(cdcCols.map(col): _*)
    },
    Some(s"""WITH e AS ($cdcEventsSql),
      |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
      |        ORDER BY ts_us DESC, $opPrioSql DESC, event_id DESC) AS rn FROM e)
      |SELECT user_id, event_id, __op, ts_us, event_type, value, __deleted
      |FROM r WHERE rn = 1 AND __op <> 'd'""".stripMargin))

  /** Incremental materialized-view maintenance end to end
    * ([[graft.tables.MaterializedView]]): the CDC slices merge into a
    * keyed source table and the summary (`group by event_type`) is rolled
    * forward by ONE refresh per slice — O(changed keys) each, never
    * re-aggregating — yet must equal the oracle's full aggregate of the
    * final fold state. Integer sum column so the hash is
    * order-independent.
    */
  val mvIncremental = Q("mv_incremental",
    (s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft_mv").toString
      val log = cdcEvents(s, dir)
      val tbl = graft.tables.ManagedTable.create(s, wh, "events_state",
        log.drop(Dedup.ArrivalCol).schema, Seq("user_id"),
        properties = Map("write.versions-retained" -> "10"))
      val cfg = CdcApply.UpsertConfig(keepDeletes = false, dedupColumn = "ts_us")
      val cuts = Seq(Long.MinValue, 1705276800000000L, 1706227200000000L, Long.MaxValue)
      var mv: graft.tables.MaterializedView = null
      cuts.sliding(2).foreach { case Seq(lo, hi) =>
        val slice = log.where(col("ts_us") >= lo && col("ts_us") < hi)
        tbl.merge(Dedup.deduplicate(slice, Seq("user_id"), "ts_us"), cfg)
        if (mv == null)
          mv = graft.tables.MaterializedView.create(s, wh, "by_type", tbl,
            Seq("event_type"), Seq("ts_us"))
        else mv.refresh()
      }
      mv.read()
    },
    Some(s"""WITH e AS ($cdcEventsSql),
      |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
      |        ORDER BY ts_us DESC, $opPrioSql DESC, event_id DESC) AS rn FROM e)
      |SELECT event_type, sum(ts_us)::BIGINT AS sum_ts_us, count(*) AS n_rows
      |FROM r WHERE rn = 1 AND __op <> 'd'
      |GROUP BY event_type""".stripMargin))

  /** Incremental MV with NON-RETRACTABLE aggregates: same three-slice
    * CDC replay as `mv_incremental`, but the view also maintains
    * max/min/exact-distinct per group — refreshed by per-changed-group
    * recompute (a deleted max holder must LOWER the max, which no signed
    * delta can express). Oracle = the full aggregate over the final
    * folded state.
    */
  val mvIncrementalMinmax = Q("mv_incremental_minmax",
    (s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft_mvmm").toString
      val log = cdcEvents(s, dir)
      val tbl = graft.tables.ManagedTable.create(s, wh, "events_state",
        log.drop(Dedup.ArrivalCol).schema, Seq("user_id"),
        properties = Map("write.versions-retained" -> "10"))
      val cfg = CdcApply.UpsertConfig(keepDeletes = false, dedupColumn = "ts_us")
      val cuts = Seq(Long.MinValue, 1705276800000000L, 1706227200000000L, Long.MaxValue)
      var mv: graft.tables.MaterializedView = null
      cuts.sliding(2).foreach { case Seq(lo, hi) =>
        val slice = log.where(col("ts_us") >= lo && col("ts_us") < hi)
        tbl.merge(Dedup.deduplicate(slice, Seq("user_id"), "ts_us"), cfg)
        if (mv == null)
          mv = graft.tables.MaterializedView.create(s, wh, "by_type_mm", tbl,
            Seq("event_type"), Seq("ts_us"),
            maxCols = Seq("ts_us"), minCols = Seq("ts_us"),
            distinctCols = Seq("event_id"))
        else mv.refresh()
      }
      mv.read()
    },
    Some(s"""WITH e AS ($cdcEventsSql),
      |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
      |        ORDER BY ts_us DESC, $opPrioSql DESC, event_id DESC) AS rn FROM e)
      |SELECT event_type, sum(ts_us)::BIGINT AS sum_ts_us, count(*) AS n_rows,
      |  max(ts_us) AS max_ts_us, min(ts_us) AS min_ts_us,
      |  count(DISTINCT event_id) AS nd_event_id
      |FROM r WHERE rn = 1 AND __op <> 'd'
      |GROUP BY event_type""".stripMargin))

  val cdcUpsertSoft = Q("cdc_upsert_soft_delete",
    (s, dir) => {
      val batch = cdcEvents(s, dir)
      CdcApply.upsert(emptyLike(s, batch.drop(Dedup.ArrivalCol)), batch, Seq("user_id"),
        CdcApply.UpsertConfig(keepDeletes = true, dedupColumn = "ts_us"))
        .select(cdcCols.map(col): _*)
    },
    Some(s"""WITH e AS ($cdcEventsSql),
      |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
      |        ORDER BY ts_us DESC, $opPrioSql DESC, event_id DESC) AS rn FROM e)
      |SELECT user_id, event_id, __op, ts_us, event_type, value, __deleted
      |FROM r WHERE rn = 1""".stripMargin))

  /** C6 — append fallback under the oracle: a destination WITHOUT
    * identifier fields keeps every event VERSION as its own row
    * (the reference's append mode,
    * TEST/IcebergChangeConsumerUpsertTest.java:171-210) — merge() routes
    * to append, nothing is deduped or hidden, and replaying the
    * changelog in two slices yields exactly the full event set.
    */
  val cdcAppendFallback = Q("cdc_append_fallback",
    (s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft_c6").toString
      val log = cdcEvents(s, dir).drop(Dedup.ArrivalCol)
      val tbl = graft.tables.ManagedTable.create(s, wh, "events_log",
        log.schema, identifierFields = Seq.empty)
      val cut = 1705276800000000L
      tbl.merge(log.where(col("ts_us") < cut))   // C6: append, no PK
      tbl.merge(log.where(col("ts_us") >= cut))
      tbl.read().select(cdcCols.map(col): _*)
    },
    Some(s"""WITH e AS ($cdcEventsSql)
      |SELECT user_id, event_id, __op, ts_us, event_type, value, __deleted
      |FROM e""".stripMargin))

  /** SCD2 — full validity-interval history from the changelog: every
    * non-delete version becomes a `[valid_from, valid_to)` row, closed by
    * the key's next event in (ts, op-priority, arrival) order; deletes
    * close their predecessor and emit nothing. One window shuffle on the
    * key — see [[graft.operators.Scd2]].
    */
  val cdcScd2 = Q("cdc_scd2_history",
    (s, dir) => graft.operators.Scd2.history(
      cdcEvents(s, dir), Seq("user_id"), "ts_us", col("event_id"))
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"),
        col("valid_from"), col("valid_to"), col("is_current")),
    Some(s"""WITH e AS ($cdcEventsSql),
      |h AS (SELECT *, ts_us AS valid_from,
      |        lead(ts_us) OVER (PARTITION BY user_id
      |          ORDER BY ts_us, $opPrioSql, event_id) AS valid_to
      |      FROM e)
      |SELECT user_id, event_id, event_type, value, valid_from, valid_to,
      |       (valid_to IS NULL) AS is_current
      |FROM h WHERE __op <> 'd'""".stripMargin))

  /** Point-in-time reconstruction — the state a changelog consumer had
    * observed at the pinned mid-range instant (2024-01-15T00:00:00Z in
    * epoch-micros; the synthetic events span January 2024): last event
    * per key at-or-before the instant, delete-terminated keys absent.
    * See [[graft.operators.Scd2.snapshotAt]].
    */
  val cdcSnapshotAsOf = Q("cdc_snapshot_as_of",
    (s, dir) => graft.operators.Scd2.snapshotAt(
      cdcEvents(s, dir), Seq("user_id"), "ts_us", col("event_id"),
      lit(1705276800000000L))
      .select(cdcCols.map(col): _*),
    Some(s"""WITH e AS ($cdcEventsSql),
      |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
      |        ORDER BY ts_us DESC, $opPrioSql DESC, event_id DESC) AS rn
      |      FROM e WHERE ts_us <= 1705276800000000)
      |SELECT user_id, event_id, __op, ts_us, event_type, value, __deleted
      |FROM r WHERE rn = 1 AND __op <> 'd'""".stripMargin))

  /** Replica audit — reconcile the changelog's final state against its
    * mid-range point-in-time state: keys created after the instant are
    * `missing_in_target`, keys deleted after it `extra_in_target`, keys
    * updated after it `mismatch`; untouched keys are absent. One
    * full-outer key join of two diff-sized relations — see
    * [[graft.operators.Reconcile]].
    */
  val cdcReconcile = Q("cdc_reconcile_states",
    (s, dir) => {
      val log = cdcEvents(s, dir)
      val current = graft.operators.Scd2.snapshotAt(
        log, Seq("user_id"), "ts_us", col("event_id"), lit(Long.MaxValue))
      val asOf = graft.operators.Scd2.snapshotAt(
        log, Seq("user_id"), "ts_us", col("event_id"), lit(1705276800000000L))
      graft.operators.Reconcile.diff(
        current.select(cdcCols.map(col): _*), asOf.select(cdcCols.map(col): _*),
        Seq("user_id"))
    },
    Some(s"""WITH e AS ($cdcEventsSql),
      |cur AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY user_id
      |          ORDER BY ts_us DESC, $opPrioSql DESC, event_id DESC) AS rn FROM e) t
      |        WHERE rn = 1 AND __op <> 'd'),
      |snap AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY user_id
      |          ORDER BY ts_us DESC, $opPrioSql DESC, event_id DESC) AS rn
      |          FROM e WHERE ts_us <= 1705276800000000) t
      |        WHERE rn = 1 AND __op <> 'd')
      |SELECT user_id, status FROM (
      |  SELECT coalesce(c.user_id, a.user_id) AS user_id,
      |    CASE WHEN a.user_id IS NULL THEN 'missing_in_target'
      |         WHEN c.user_id IS NULL THEN 'extra_in_target'
      |         WHEN NOT (c.event_id IS NOT DISTINCT FROM a.event_id
      |               AND c.__op IS NOT DISTINCT FROM a.__op
      |               AND c.ts_us IS NOT DISTINCT FROM a.ts_us
      |               AND c.event_type IS NOT DISTINCT FROM a.event_type
      |               AND c.value IS NOT DISTINCT FROM a.value
      |               AND c.__deleted IS NOT DISTINCT FROM a.__deleted)
      |         THEN 'mismatch' END AS status
      |  FROM cur c FULL OUTER JOIN snap a ON c.user_id = a.user_id) d
      |WHERE status IS NOT NULL""".stripMargin))

  /** Temporal (as-of validity) join ([[graft.operators.Scd2.enrichAsOf]]):
    * the even-event-id half of the changelog becomes a versioned SCD2
    * dimension; every odd-event-id row is a fact enriched with the
    * dimension version valid AT ITS OWN INSTANT. Facts inside a deletion
    * gap or before a key's first version surface with null dimension
    * columns — the semantics a plain as-of join gets wrong (it would
    * carry the last pre-delete version across the gap). Plan: one
    * key-local equi-join; validity is a join-time filter.
    */
  val qScd2TemporalJoin = Q("q_scd2_temporal_join",
    (s, dir) => {
      val log = cdcEvents(s, dir)
      val hist = graft.operators.Scd2.history(
        log.filter(col("event_id") % 2 === 0), Seq("user_id"), "ts_us", col("event_id"))
        .select(col("user_id"), col("event_id").as("dim_version"),
          col("value").as("dim_value"), col("valid_from"), col("valid_to"))
      val facts = log.filter(col("event_id") % 2 === 1)
        .select(col("user_id"), col("event_id").as("fact_id"), col("ts_us").as("fact_ts"))
      graft.operators.Scd2.enrichAsOf(facts, hist, Seq("user_id"), "fact_ts")
        .select("user_id", "fact_id", "fact_ts", "dim_version", "dim_value")
    },
    Some(s"""WITH e AS ($cdcEventsSql),
      |dim AS (SELECT * FROM e WHERE event_id % 2 = 0),
      |h AS (SELECT user_id, event_id AS dim_version, value AS dim_value,
      |        ts_us AS valid_from,
      |        lead(ts_us) OVER (PARTITION BY user_id
      |          ORDER BY ts_us, $opPrioSql, event_id) AS valid_to, __op
      |      FROM dim),
      |hist AS (SELECT * FROM h WHERE __op <> 'd'),
      |f AS (SELECT user_id, event_id AS fact_id, ts_us AS fact_ts
      |      FROM e WHERE event_id % 2 = 1)
      |SELECT f.user_id, f.fact_id, f.fact_ts, h.dim_version, h.dim_value
      |FROM f LEFT JOIN hist h ON f.user_id = h.user_id
      |  AND h.valid_from <= f.fact_ts
      |  AND (h.valid_to IS NULL OR f.fact_ts < h.valid_to)""".stripMargin))

  // ------------------------------------------------------ row-level DML

  /** Data-quality expectations ([[graft.operators.Expectations]]): three
    * named constraints over orders evaluated in ONE conditional-sum
    * aggregation (never a job per rule); nulls fail closed (quarantine on
    * doubt). Oracle replays the counts with the same null semantics.
    */
  val qualityExpectations = Q("quality_expectations",
    (s, dir) => {
      import graft.operators.Expectations
      Expectations.metrics(t(s, dir, "orders"), Seq(
        Expectations.Rule("price_positive", col("o_totalprice") > 0.0),
        Expectations.Rule("status_known", col("o_orderstatus").isin("O", "F", "P")),
        Expectations.Rule("priority_prefixed", col("o_orderpriority").rlike("^[1-5]-"))))
    },
    Some("""SELECT rule, n_pass, n_fail FROM (
      |  SELECT 'price_positive' AS rule,
      |    sum(CASE WHEN coalesce(o_totalprice > 0.0, false) THEN 1 ELSE 0 END)::BIGINT AS n_pass,
      |    sum(CASE WHEN coalesce(o_totalprice > 0.0, false) THEN 0 ELSE 1 END)::BIGINT AS n_fail
      |  FROM orders
      |  UNION ALL
      |  SELECT 'status_known',
      |    sum(CASE WHEN coalesce(o_orderstatus IN ('O','F','P'), false) THEN 1 ELSE 0 END)::BIGINT,
      |    sum(CASE WHEN coalesce(o_orderstatus IN ('O','F','P'), false) THEN 0 ELSE 1 END)::BIGINT
      |  FROM orders
      |  UNION ALL
      |  SELECT 'priority_prefixed',
      |    sum(CASE WHEN coalesce(regexp_matches(o_orderpriority, '^[1-5]-'), false) THEN 1 ELSE 0 END)::BIGINT,
      |    sum(CASE WHEN coalesce(regexp_matches(o_orderpriority, '^[1-5]-'), false) THEN 0 ELSE 1 END)::BIGINT
      |  FROM orders) t""".stripMargin))

  /** Manifest Bloom filters ([[graft.tables.ManagedTable.buildBlooms]] /
    * `readWhereEq`): orders re-hosted as three file groups, filters built
    * over the UNSORTED o_custkey column in one columnar pass, then a
    * point lookup that plans against the filters (groups that can't hold
    * the key are never opened). Oracle = the plain equality scan.
    */
  val tableBloomLookup = Q("table_bloom_lookup",
    (s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft_bloom").toString
      val base = t(s, dir, "orders").select(dmlCols.map(col): _*)
      val tbl = graft.tables.ManagedTable.create(s, wh, "orders_bloom",
        base.schema, Seq("o_orderkey"))
      // three commits → three groups, custkeys interleaved (unsorted)
      (0 until 3).foreach(i => tbl.append(base.where(col("o_orderkey") % 3 === i)))
      tbl.buildBlooms(Seq("o_custkey"))
      tbl.readWhereEq("o_custkey", 61L).select(dmlCols.map(col): _*)
    },
    Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
      |FROM orders WHERE o_custkey = 61""".stripMargin))

  /** BPE tokenizer training ([[graft.text.BpeTrainer]]): 40 merge rules
    * learned from the documents corpus — ONE corpus-scale word-count
    * exchange, then the bounded-vocabulary merge loop (driver-side, like
    * the k-means trainer's centroid state). The trained artifact IS the
    * ordered merge list, and every cell is engine-exact strings/ints —
    * so the full 40-round loop goes under the hash oracle by unrolling
    * the rounds in DuckDB (same CTE the `text_bpe_merges` oracle builds,
    * at double the depth; see [[bpeMergesOracle]] for the encoding
    * argument).
    */
  val textBpeTrain = Q("text_bpe_train",
    (s, dir) => {
      import s.implicits._
      graft.text.BpeTrainer.train(t(s, dir, "documents"), "text", 40)
        .zipWithIndex
        .map { case ((a, b), i) => (i.toLong, a, b) }
        .toDF("rank", "left", "right")
    },
    Some(s"""SELECT merge_rank - 1 AS rank, lhs AS "left", rhs AS "right"
      |FROM (${bpeMergesOracle(40)})""".stripMargin))

  /** The BPE merge loop itself under the hash oracle: the first
    * `BpeMergeRounds` learned merges with their winning pair counts,
    * replayed in DuckDB by UNROLLING the rounds — each round is one
    * pair-count aggregation over the current symbol table, one argmax
    * (count desc, then UTF-8 lexicographic on both symbols — DuckDB's
    * binary collation, which [[graft.text.BpeTrainer.trainDetailed]]
    * matches byte-for-byte), and one greedy left-to-right merge
    * application. The SQL merge application is a single `replace()` over
    * a double-separator encoding (two U+001F between symbols): a pair
    * match consumes exactly the two INNER separators, so adjacent
    * matches still see their own boundary and plain non-overlapping
    * `replace` IS the BPE greedy scan. Counts are integers throughout —
    * every hashed cell is engine-exact.
    */
  val textBpeMerges = Q("text_bpe_merges",
    (s, dir) => {
      import s.implicits._
      val top = graft.text.BpeTrainer.topWords(t(s, dir, "documents"), "text", 50000)
      graft.text.BpeTrainer.trainDetailed(top, BpeMergeRounds)
        .zipWithIndex
        .map { case ((a, b, n), i) => (i + 1L, a, b, n) }
        .toDF("merge_rank", "lhs", "rhs", "pair_count")
    },
    Some(bpeMergesOracle(BpeMergeRounds)))

  /** Rewrite-free lake migration ([[graft.tables.ManagedTable.addFiles]]):
    * the raw lineitem parquet is ADOPTED into a managed table (copy mode —
    * the shared testdata must survive; production migrations use the
    * metadata-only move), columns outside the declared table schema
    * invisible by construction; a row-level DELETE then lands as one MoR
    * tombstone commit against the adopted files. Oracle replays both steps
    * relationally. Zero data rows are ever rewritten on the Spark side —
    * the migration story at 100 TB.
    */
  val tableAddFiles = Q("table_add_files",
    (s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft_adopt").toString
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("o_orderkey", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("o_custkey", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("o_orderstatus", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("o_totalprice", org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("o_orderpriority", org.apache.spark.sql.types.StringType)))
      val tbl = graft.tables.ManagedTable.create(s, wh, "orders_adopted", schema,
        Seq("o_orderkey"))
      tbl.addFiles(Seq(s"$dir/orders.parquet"), copy = true)
      tbl.deleteWhere(col("o_orderstatus") === "F" && col("o_totalprice") < 50000.0)
      tbl.read().groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
    },
    Some("""SELECT o_orderpriority, count(*) AS n,
      |  sum(o_totalprice::DECIMAL(18,2))::DOUBLE AS sum_price
      |FROM orders
      |WHERE NOT coalesce(o_orderstatus = 'F' AND o_totalprice < 50000.0, false)
      |GROUP BY o_orderpriority""".stripMargin))

  /** The orders table re-hosted as a managed MoR table (key o_orderkey) —
    * the shared setup of the DML oracle queries. The temporal column is
    * left out so the round-trip stays in hash-stable types.
    */
  private def ordersTable(s: SparkSession, dir: String, name: String): graft.tables.ManagedTable = {
    val wh = java.nio.file.Files.createTempDirectory("graft_dml").toString
    val base = t(s, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderpriority"))
    val tbl = graft.tables.ManagedTable.create(s, wh, name, base.schema, Seq("o_orderkey"))
    tbl.append(base)
    tbl
  }

  private val dmlCols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")

  /** Keyless priority-partitioned orders table + its partition→files
    * snapshot — the shared scaffold of the scoped-DML oracle queries
    * (their runtime assertions compare these snapshots).
    */
  private def keylessOrdersTable(s: SparkSession, dir: String, name: String)
      : graft.tables.ManagedTable = {
    val wh = java.nio.file.Files.createTempDirectory("graft_kdml").toString
    val base = t(s, dir, "orders").select(dmlCols.map(col): _*)
    val tbl = graft.tables.ManagedTable.create(s, wh, name,
      base.schema, Seq.empty, partitionBy = Seq("o_orderpriority"))
    tbl.append(base)
    tbl
  }

  private def priorityFiles(tbl: graft.tables.ManagedTable): Seq[(String, String)] =
    tbl.filesMetadata().select("path", "partition").collect()
      .map(r => r.getString(0) ->
        r.getMap[String, String](1).get("o_orderpriority").orNull).toSeq

  /** `DELETE FROM orders WHERE status='F' AND price<100000` through the
    * merge-on-read tombstone commit ([[graft.tables.ManagedTable.deleteWhere]]),
    * read back. Oracle = the survivors, with the engine's null-keeps-row
    * semantics spelled out.
    */
  val dmlDelete = Q("dml_delete_where",
    (s, dir) => {
      val tbl = ordersTable(s, dir, "orders_del")
      tbl.deleteWhere(col("o_orderstatus") === "F" && col("o_totalprice") < 100000.0)
      tbl.read().select(dmlCols.map(col): _*)
    },
    Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
      |FROM orders
      |WHERE NOT coalesce(o_orderstatus = 'F' AND o_totalprice < 100000.0, false)""".stripMargin))

  /** `UPDATE orders SET status='L', price=price*2 WHERE priority='5-LOW'`
    * as one O(matched) MoR commit. Double math is a single IEEE multiply —
    * bit-identical across engines.
    */
  val dmlUpdate = Q("dml_update_where",
    (s, dir) => {
      val tbl = ordersTable(s, dir, "orders_upd")
      tbl.updateWhere(col("o_orderpriority") === "5-LOW",
        Map("o_orderstatus" -> lit("L"), "o_totalprice" -> (col("o_totalprice") * 2)))
      tbl.read().select(dmlCols.map(col): _*)
    },
    Some("""SELECT o_orderkey, o_custkey,
      |  CASE WHEN o_orderpriority = '5-LOW' THEN 'L' ELSE o_orderstatus END AS o_orderstatus,
      |  CASE WHEN o_orderpriority = '5-LOW' THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
      |  o_orderpriority
      |FROM orders""".stripMargin))

  /** Filter-scoped overwrite ([[graft.tables.ManagedTable
    * .overwriteWhere]], the Delta replaceWhere / Iceberg
    * overwrite-by-filter backfill): the 'F & cheap' region is atomically
    * replaced with its own rows re-priced — ONE O(matched+batch) MoR
    * commit, tombstones and replacements in the same group. Oracle =
    * untouched rows ∪ transformed region.
    */
  val dmlOverwriteWhere = Q("dml_overwrite_where",
    (s, dir) => {
      val tbl = ordersTable(s, dir, "orders_ow")
      val region = col("o_orderstatus") === "F" && col("o_totalprice") < 100000.0
      val backfill = t(s, dir, "orders").select(dmlCols.map(col): _*)
        .where(region)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        .withColumn("o_orderpriority", lit("BACKFILLED"))
      tbl.overwriteWhere(
        col("o_orderstatus") === "F" && col("o_totalprice") < 200000.0, backfill)
      tbl.read().select(dmlCols.map(col): _*)
    },
    Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
      |FROM orders
      |WHERE NOT coalesce(o_orderstatus = 'F' AND o_totalprice < 200000.0, false)
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus,
      |  o_totalprice + 1000.0 AS o_totalprice, 'BACKFILLED' AS o_orderpriority
      |FROM orders
      |WHERE o_orderstatus = 'F' AND o_totalprice < 100000.0""".stripMargin))

  /** `DELETE FROM <catalog>.t WHERE …` through the DSv2 catalog
    * ([[graft.catalog.GraftV2Table]]'s filter-based SupportsDelete):
    * Spark's NATIVE V2 delete resolution translates the condition to
    * source filters — no graft extension rule touches the statement —
    * and the table runs the SAME merge-on-read deleteWhere as the SQL
    * surface. At 100 TB the cost profile is deleteWhere's: a
    * predicate-pushed scan of candidates plus an O(matched) tombstone
    * commit, never a rewrite. Oracle = survivors with the engine's
    * null-keeps-row semantics spelled out.
    */
  val dmlV2Delete = Q("dml_v2_delete",
    (s, dir) => {
      val tbl = ordersTable(s, dir, "orders_v2del")
      // isolated session: the catalog registration rides with it instead
      // of accumulating on the shared session
      val ns = s.newSession()
      val cat = s"gv2d_${java.util.UUID.randomUUID().toString.take(8)}"
      ns.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      ns.conf.set(s"spark.sql.catalog.$cat.warehouse", tbl.warehouse)
      ns.sql(s"DELETE FROM $cat.orders_v2del WHERE " +
        "(o_orderstatus = 'F' AND o_totalprice < 100000.0) " +
        "OR o_orderpriority IN ('5-LOW')")
      graft.tables.ManagedTable.load(s, tbl.warehouse, "orders_v2del").get
        .read().select(dmlCols.map(col): _*)
    },
    Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
      |FROM orders
      |WHERE NOT coalesce((o_orderstatus = 'F' AND o_totalprice < 100000.0)
      |                   OR o_orderpriority IN ('5-LOW'), false)""".stripMargin))

  /** Static-partition INSERT OVERWRITE through the DSv2 catalog (round
    * 10, [[graft.catalog.GraftWriteBuilder]]'s SupportsOverwrite via
    * Spark's `OverwriteByExpressionExecV1` V1-write bridge): Spark's
    * NATIVE resolution builds the region predicate and injects the
    * static value — no graft extension rule touches the statement — and
    * the write runs the SAME overwriteWhere the SQL surface uses. On
    * this keyless priority-partitioned table the pure-region predicate
    * takes the zero-rewrite path: the region's entries drop as a
    * manifest diff and only the recomputed batch is written. The query
    * runtime-asserts the zero-rewrite property (untouched regions keep
    * byte-identical file groups) and reads its own region back through
    * the catalog in the same statement (the scan pins the pre-commit
    * snapshot). Oracle = other regions ∪ the recomputed region.
    */
  val dmlV2Overwrite = Q("dml_v2_overwrite",
    (s, dir) => {
      val tbl = keylessOrdersTable(s, dir, "orders_v2ow")
      val beforeOther = priorityFiles(tbl).filterNot(_._2 == "1-URGENT").map(_._1).toSet
      val ns = s.newSession()
      val cat = s"gv2o_${java.util.UUID.randomUUID().toString.take(8)}"
      ns.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      ns.conf.set(s"spark.sql.catalog.$cat.warehouse", tbl.warehouse)
      ns.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
      ns.sql(s"INSERT OVERWRITE $cat.orders_v2ow PARTITION (o_orderpriority='1-URGENT') " +
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 0.5 AS o_totalprice " +
        s"FROM $cat.orders_v2ow WHERE o_orderpriority = '1-URGENT'")
      val re = graft.tables.ManagedTable.load(s, tbl.warehouse, "orders_v2ow").get
      val afterOther = priorityFiles(re).filterNot(_._2 == "1-URGENT").map(_._1).toSet
      require(afterOther == beforeOther,
        "V2 static-partition overwrite must leave other regions' files untouched")
      re.read().select(dmlCols.map(col): _*)
    },
    Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
      |FROM orders WHERE o_orderpriority <> '1-URGENT'
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus,
      |  o_totalprice * 0.5 AS o_totalprice, o_orderpriority
      |FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin))

  /** Dynamic-mode INSERT OVERWRITE through the DSv2 catalog (round 11,
    * [[graft.catalog.GraftDynamicOverwriteWrite]] — the one connector-
    * native V2 write, since Spark's `OverwritePartitionsDynamicExec` has
    * no V1 bridge): under `partitionOverwriteMode=dynamic` with NO
    * PARTITION clause, only the tuples PRESENT IN THE BATCH are replaced.
    * Executor tasks stage the batch as parquet; the commit runs
    * [[graft.tables.ManagedTable.overwritePartitions]] — the touched
    * tuple's groups drop as a manifest diff, untouched regions keep
    * byte-identical files (runtime-asserted). Oracle = other regions ∪
    * the recomputed region.
    */
  val dmlV2OverwriteDynamic = Q("dml_v2_overwrite_dynamic",
    (s, dir) => {
      val tbl = keylessOrdersTable(s, dir, "orders_v2dyn")
      val beforeOther = priorityFiles(tbl).filterNot(_._2 == "1-URGENT").map(_._1).toSet
      val ns = s.newSession()
      val cat = s"gv2y_${java.util.UUID.randomUUID().toString.take(8)}"
      ns.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      ns.conf.set(s"spark.sql.catalog.$cat.warehouse", tbl.warehouse)
      ns.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      ns.sql(s"INSERT OVERWRITE $cat.orders_v2dyn " +
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 0.5 AS o_totalprice, " +
        s"o_orderpriority FROM $cat.orders_v2dyn WHERE o_orderpriority = '1-URGENT'")
      val re = graft.tables.ManagedTable.load(s, tbl.warehouse, "orders_v2dyn").get
      val afterOther = priorityFiles(re).filterNot(_._2 == "1-URGENT").map(_._1).toSet
      require(afterOther == beforeOther,
        "V2 dynamic overwrite must leave untouched tuples' files byte-identical")
      re.read().select(dmlCols.map(col): _*)
    },
    Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
      |FROM orders WHERE o_orderpriority <> '1-URGENT'
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus,
      |  o_totalprice * 0.5 AS o_totalprice, o_orderpriority
      |FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin))

  /** Keyed orders table whose row-id columns (key + partition sources) are
    * DECLARED non-nullable — the eligibility contract of the V2 row-level
    * delta protocol ([[graft.catalog.GraftRowLevelOps]]): Spark refuses
    * nullable row id attributes, so the V2 UPDATE/MERGE oracle tables
    * tighten the parquet-inferred (all-nullable) schema before re-hosting.
    */
  private def rowIdOrdersTable(s: SparkSession, dir: String, name: String,
                               partitionBy: Seq[String] = Seq.empty)
      : graft.tables.ManagedTable = {
    val wh = java.nio.file.Files.createTempDirectory("graft_v2rl").toString
    val base = t(s, dir, "orders").select(dmlCols.map(col): _*)
    val nonNull = Set("o_orderkey") ++ partitionBy
    val schema = org.apache.spark.sql.types.StructType(base.schema.fields.map(f =>
      if (nonNull.contains(f.name)) f.copy(nullable = false) else f))
    val tbl = graft.tables.ManagedTable.create(s, wh, name, schema,
      Seq("o_orderkey"), partitionBy)
    tbl.append(base)
    tbl
  }

  /** Native `UPDATE <catalog>.t SET …` through Spark's row-level rewrite
    * ([[graft.catalog.GraftRowLevelOps]] → the merge-on-read delta write):
    * no graft extension rule touches the statement — Spark scans the
    * matched rows, the executor-side delta writers stage the per-row verbs
    * as parquet, and ONE [[graft.tables.ManagedTable.applyNetChanges]] MoR
    * commit lands them. The statement REASSIGNS the partition column on a
    * region, so every matched row splits into tombstone(old tuple) +
    * insert(new tuple) — the exact updateWhere commit shape — and the
    * query runtime-asserts the moved tuple materialized. At 100 TB the
    * cost profile is O(matched): a predicate-pushed scan plus a
    * delta-sized commit, never a table rewrite. Oracle replays the
    * two-assignment update relationally.
    */
  val dmlV2Update = Q("dml_v2_update",
    (s, dir) => {
      val tbl = rowIdOrdersTable(s, dir, "orders_v2upd", Seq("o_orderpriority"))
      val ns = s.newSession()
      val cat = s"gv2u_${java.util.UUID.randomUUID().toString.take(8)}"
      ns.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      ns.conf.set(s"spark.sql.catalog.$cat.warehouse", tbl.warehouse)
      ns.sql(s"UPDATE $cat.orders_v2upd SET o_orderpriority = 'REPRICED', " +
        "o_totalprice = o_totalprice * 2 " +
        "WHERE o_orderpriority = '5-LOW' AND o_orderstatus = 'F'")
      val re = graft.tables.ManagedTable.load(s, tbl.warehouse, "orders_v2upd").get
      val tuples = re.filesMetadata().select("partition").collect()
        .map(_.getMap[String, String](0).get("o_orderpriority").orNull).toSet
      require(tuples.contains("REPRICED"),
        "partition-moving V2 UPDATE must materialize the new tuple")
      re.read().select(dmlCols.map(col): _*)
    },
    Some("""SELECT o_orderkey, o_custkey, o_orderstatus,
      |  CASE WHEN o_orderpriority = '5-LOW' AND o_orderstatus = 'F'
      |       THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
      |  CASE WHEN o_orderpriority = '5-LOW' AND o_orderstatus = 'F'
      |       THEN 'REPRICED' ELSE o_orderpriority END AS o_orderpriority
      |FROM orders""".stripMargin))

  /** Native `MERGE INTO <catalog>.t` through Spark's row-level rewrite —
    * the full clause set (matched-delete, matched-update, not-matched
    * insert) resolved, joined and cardinality-checked by Spark itself,
    * landing as ONE O(delta) MoR commit via the same delta writers as
    * [[dmlV2Update]]. Mirrors `dml_merge_into`'s scenario so the two
    * spellings (graft mergeInto vs native V2 MERGE) stay pinned to one
    * relational oracle shape.
    */
  val dmlV2Merge = Q("dml_v2_merge",
    (s, dir) => {
      val tbl = rowIdOrdersTable(s, dir, "orders_v2mrg")
      val ns = s.newSession()
      val cat = s"gv2m_${java.util.UUID.randomUUID().toString.take(8)}"
      ns.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      ns.conf.set(s"spark.sql.catalog.$cat.warehouse", tbl.warehouse)
      val baseSrc = t(ns, dir, "orders").select(dmlCols.map(col): _*)
        .where(col("o_orderkey") % 7 === 0)
      baseSrc.unionByName(
        baseSrc.withColumn("o_orderkey", col("o_orderkey") + lit(100000000L)))
        .createOrReplaceTempView("v2_merge_src")
      ns.sql(
        s"""MERGE INTO $cat.orders_v2mrg AS t USING v2_merge_src AS s
           |ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED AND s.o_orderstatus = 'F' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice + 1
           |WHEN NOT MATCHED AND s.o_custkey % 2 = 0 THEN INSERT *
           |""".stripMargin)
      graft.tables.ManagedTable.load(s, tbl.warehouse, "orders_v2mrg").get
        .read().select(dmlCols.map(col): _*)
    },
    Some("""SELECT o_orderkey, o_custkey, o_orderstatus,
      |  CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1 ELSE o_totalprice END AS o_totalprice,
      |  o_orderpriority
      |FROM orders WHERE NOT (o_orderkey % 7 = 0 AND o_orderstatus = 'F')
      |UNION ALL
      |SELECT o_orderkey + 100000000, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
      |FROM orders WHERE o_orderkey % 7 = 0 AND o_custkey % 2 = 0""".stripMargin))

  /** Distinct manifest group dirs a V2 plan's splits serve — the probe
    * the pushed-limit/top-N oracle rows runtime-assert truncation with
    * (split count cannot observe it: an unpartitioned table chunks many
    * groups into few splits).
    */
  private def v2PlannedGroups(df: DataFrame): Int =
    graft.catalog.GraftScan.servedGroupDirs(df)

  /** Pushed LIMIT through the DSv2 catalog (round 11,
    * [[graft.catalog.GraftScanBuilder.pushLimit]]): `LIMIT n` over a
    * keyless all-data table plans only enough manifest groups to cover n
    * from their exact recorded row counts — on a 100 TB table `SELECT *
    * … LIMIT 10` reads one group instead of every live file. The push is
    * PARTIAL (Spark keeps its Limit above), so semantics are exact; the
    * query runtime-asserts the truncation (the 4-commit table plans only
    * the needed prefix of groups) and returns a deterministic aggregate
    * over the limited scan. Oracle replays the same shape — both engines
    * serve min(n, total) rows.
    */
  val sqlV2LimitPushdown = Q("sql_v2_limit_pushdown",
    (s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft_v2lim").toString
      val base = t(s, dir, "orders").select(dmlCols.map(col): _*)
      val tbl = graft.tables.ManagedTable.create(s, wh, "orders_v2lim", base.schema)
      val chunkRows = (0 until 4).map { k =>
        val chunk = base.where(col("o_orderkey") % 4 === k)
        tbl.append(chunk)
        chunk.count()
      }
      val ns = s.newSession()
      val cat = s"gv2l_${java.util.UUID.randomUUID().toString.take(8)}"
      ns.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      ns.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      val limited = ns.sql(s"SELECT * FROM $cat.orders_v2lim LIMIT 5000")
      // groups needed = shortest prefix of commits covering the limit
      val needed = {
        var acc = 0L; var k = 0
        while (k < chunkRows.length && acc < 5000L) { acc += chunkRows(k); k += 1 }
        k
      }
      require(v2PlannedGroups(limited) == needed,
        s"pushed LIMIT must plan exactly $needed of 4 groups")
      ns.sql(s"SELECT count(*) AS cnt, count(DISTINCT o_orderkey) AS keys FROM " +
        s"(SELECT * FROM $cat.orders_v2lim LIMIT 5000)")
    },
    Some("""SELECT count(*) AS cnt, count(DISTINCT o_orderkey) AS keys
      |FROM (SELECT * FROM orders LIMIT 5000)""".stripMargin))

  /** Pushed ORDER-BY-LIMIT (top-N) through the DSv2 catalog (round 11,
    * [[graft.catalog.GraftScanBuilder.pushTopN]]): on a table whose
    * commits carry key-range-disjoint manifest bounds (`write.cluster-by`
    * stats), `ORDER BY k LIMIT n` drops every group provably beaten by ≥n
    * rows of other groups — "first/latest n" on a time-clustered 100 TB
    * table reads only the boundary groups. Null ordering is accounted via
    * the manifest null counts; the push stays partial (TakeOrdered above
    * re-sorts). Runtime-asserts that only the boundary group plans; the
    * unique sort key makes the result deterministic for the oracle hash.
    */
  val sqlV2TopNPushdown = Q("sql_v2_topn_pushdown",
    (s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft_v2topn").toString
      val base = t(s, dir, "orders").select(dmlCols.map(col): _*)
      val tbl = graft.tables.ManagedTable.create(s, wh, "orders_v2topn",
        base.schema, Seq.empty, Seq.empty, Map("write.cluster-by" -> "o_orderkey"))
      // four commits over disjoint key ranges → disjoint manifest bounds
      val qs = base.stat.approxQuantile("o_orderkey", Array(0.25, 0.5, 0.75), 0.01)
      val cuts = Seq(Double.NegativeInfinity) ++ qs ++ Seq(Double.PositiveInfinity)
      val firstChunk = cuts.sliding(2).map { case Seq(lo, hi) =>
        val chunk = base.where(col("o_orderkey") > lo && col("o_orderkey") <= hi)
        tbl.append(chunk)
        chunk.count()
      }.toSeq.head
      val ns = s.newSession()
      val cat = s"gv2t_${java.util.UUID.randomUUID().toString.take(8)}"
      ns.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      ns.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      val topn = ns.sql(s"SELECT o_orderkey, o_totalprice FROM $cat.orders_v2topn " +
        "ORDER BY o_orderkey LIMIT 100")
      if (firstChunk >= 100L)
        require(v2PlannedGroups(topn) == 1,
          "pushed top-N must plan only the boundary group")
      topn
    },
    Some("""SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_orderkey LIMIT 100""".stripMargin))

  /** Region-filtered manifest aggregates through the DSv2 catalog (round
    * 11, [[graft.catalog.GraftScan.exactRegionConjunct]]): equality/IN on
    * an identity partition source is CONSUMED by the scan — every row of
    * a group shares its tuple, so entry filtering IS the predicate — and
    * Spark then pushes the whole aggregate, answered from the region's
    * manifest entries as a zero-job LocalTableScan. "Rows and key range
    * for day X" — the most common corpus-operations probe — costs one
    * metadata read on a 100 TB table. Runtime-asserts the scan-free plan;
    * DuckDB replays count/min/max per region.
    */
  val sqlV2RegionCount = Q("sql_v2_region_count",
    (s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft_v2rc").toString
      val base = t(s, dir, "orders").select(dmlCols.map(col): _*)
      // cluster-by records o_orderkey bounds per group → min/max fold too
      val tbl = graft.tables.ManagedTable.create(s, wh, "orders_v2rc",
        base.schema, Seq.empty, Seq("o_orderpriority"),
        Map("write.cluster-by" -> "o_orderkey"))
      tbl.append(base)
      val ns = s.newSession()
      val cat = s"gv2r_${java.util.UUID.randomUUID().toString.take(8)}"
      ns.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      ns.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      val df = ns.sql(
        s"""SELECT count(*) AS cnt, min(o_orderkey) AS min_key,
           |  max(o_orderkey) AS max_key
           |FROM $cat.orders_v2rc
           |WHERE o_orderpriority IN ('1-URGENT', '5-LOW')""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
        s"region-filtered aggregate must answer from the manifest:\n$plan")
      df
    },
    Some("""SELECT count(*)::BIGINT AS cnt, min(o_orderkey) AS min_key,
      |  max(o_orderkey) AS max_key
      |FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')""".stripMargin))

  /** `CALL graft.system.analyze` (round 11,
    * [[graft.tables.ManagedTable.analyzeColumns]] — the Iceberg
    * compute-stats analogue): backfills manifest column statistics
    * (bounds, null counts, approximate NDV) for arbitrary columns as ONE
    * metadata-only commit after one distributed pass. The query proves
    * the stats are LOAD-BEARING: on a 4-commit key-range table written
    * WITHOUT write-time stats, the pushed top-N keeps all four groups;
    * after ANALYZE the same query plans only the boundary group. Oracle
    * replays the final top-N.
    */
  val sqlAnalyzeStats = Q("sql_analyze_stats",
    (s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft_an").toString
      val base = t(s, dir, "orders").select(dmlCols.map(col): _*)
      // NO identifiers, NO cluster-by: nothing indexed at write time
      val tbl = graft.tables.ManagedTable.create(s, wh, "orders_an", base.schema)
      val qs = base.stat.approxQuantile("o_orderkey", Array(0.25, 0.5, 0.75), 0.01)
      val cuts = Seq(Double.NegativeInfinity) ++ qs ++ Seq(Double.PositiveInfinity)
      val firstChunk = cuts.sliding(2).map { case Seq(lo, hi) =>
        val chunk = base.where(col("o_orderkey") > lo && col("o_orderkey") <= hi)
        tbl.append(chunk)
        chunk.count()
      }.toSeq.head
      val ns = s.newSession()
      val cat = s"gan_${java.util.UUID.randomUUID().toString.take(8)}"
      ns.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      ns.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      def topn = ns.sql(s"SELECT o_orderkey, o_totalprice FROM $cat.orders_an " +
        "ORDER BY o_orderkey LIMIT 100")
      require(v2PlannedGroups(topn) == 4,
        "without stats the top-N must keep every group")
      val r = ns.sql(s"CALL $cat.system.analyze('orders_an', 'o_orderkey')")
        .collect().head
      require(r.getLong(0) == 4L, s"analyze must update all 4 groups, got $r")
      val after = topn
      if (firstChunk >= 100L)
        require(v2PlannedGroups(after) == 1,
          "analyzed bounds must confine the top-N to the boundary group")
      after
    },
    Some("""SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_orderkey LIMIT 100""".stripMargin))

  /** Connector-native STREAMING WRITE through the DSv2 catalog (round 11,
    * [[graft.catalog.GraftStreamingWrite]] — the last V2 write verb):
    * `writeStream.toTable("<cat>.t")` stages each micro-batch as
    * executor-written parquet and lands ONE managed append per epoch,
    * with the `streaming.v2.epoch.<queryId>` replay marker riding the
    * same commit's pointer flip (exactly-once across crash re-delivery).
    * The source drains in several AvailableNow micro-batches
    * (maxFilesPerTrigger), so multiple epochs exercise the marker
    * monotonicity; the query runtime-asserts the marker landed and the
    * staging root drained. Oracle = the streamed rows.
    */
  val dmlV2StreamWrite = Q("dml_v2_stream_write",
    (s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft_v2sw").toString
      val base = t(s, dir, "orders").select(dmlCols.map(col): _*)
      graft.tables.ManagedTable.create(s, wh, "orders_v2sw", base.schema)
      val src = java.nio.file.Files.createTempDirectory("graft_v2sw_src").toString
      base.where(col("o_orderkey") % 2 === 0).write.mode("append").parquet(src)
      base.where(col("o_orderkey") % 2 =!= 0).write.mode("append").parquet(src)
      val ns = s.newSession()
      val cat = s"gv2w_${java.util.UUID.randomUUID().toString.take(8)}"
      ns.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      ns.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      // pin the catalog INSTANCE in ns's CatalogManager before toTable:
      // DataStreamWriter.toTable's pre-create existence check resolves
      // the catalog via the THREAD-LOCAL SQLConf (the outer session here,
      // which lacks the registration), concludes the table is missing,
      // and then collides at exec time where resolution uses ns — a
      // session-isolation quirk this harness hits, not a user shape
      ns.sql(s"SHOW TABLES IN $cat").collect()
      val ck = java.nio.file.Files.createTempDirectory("graft_v2sw_ck").toString
      val q = ns.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", "2").parquet(src)
        .writeStream.option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable(s"$cat.orders_v2sw")
      require(q.awaitTermination(300000), "V2 streaming write drain timed out")
      val re = graft.tables.ManagedTable.load(s, wh, "orders_v2sw").get
      require(re.meta.properties.keys.exists(_.startsWith("streaming.v2.epoch.")),
        "the exactly-once replay marker must ride the streaming commits")
      val staging = new java.io.File(s"$wh/orders_v2sw/_stream_staging")
      require(!staging.exists() ||
        staging.listFiles().forall(d => d.listFiles() == null || d.listFiles().isEmpty),
        "per-epoch staging must drain after each commit")
      re.read().select(dmlCols.map(col): _*)
    },
    Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
      |FROM orders""".stripMargin))

  /** Dynamic partition overwrite ([[graft.tables.ManagedTable
    * .overwritePartitions]]): a priority-partitioned orders table gets
    * one partition's recomputation — only that partition's groups are
    * replaced, nothing else is read or rewritten (the manifest diff IS
    * the commit). Oracle = other partitions ∪ the new batch.
    */
  val tableOverwritePartitions = Q("table_overwrite_partitions",
    (s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft_dpo").toString
      val base = t(s, dir, "orders").select(dmlCols.map(col): _*)
      val tbl = graft.tables.ManagedTable.create(s, wh, "orders_dpo",
        base.schema, Seq.empty, partitionBy = Seq("o_orderpriority"))
      tbl.append(base)
      val batch = base.where(col("o_orderpriority") === "1-URGENT")
        .withColumn("o_totalprice", col("o_totalprice") * 0.5)
      tbl.overwritePartitions(batch)
      tbl.read().select(dmlCols.map(col): _*)
    },
    Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
      |FROM orders WHERE o_orderpriority <> '1-URGENT'
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus,
      |  o_totalprice * 0.5 AS o_totalprice, o_orderpriority
      |FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin))

  /** Metadata-only DELETE (`DELETE FROM t WHERE <partition region>`):
    * on a keyless priority-partitioned orders table, a predicate that is
    * a pure function of the identity partition source drops the matching
    * regions as ONE manifest diff — zero data files read or rewritten at
    * any table size (the 100 TB retention shape; Iceberg's "metadata
    * delete"). The query runtime-asserts the zero-rewrite property: every
    * surviving file group is byte-identical to a pre-delete group. Oracle
    * = survivors, with the engine's null-keeps-row semantics.
    */
  val dmlDeleteRegion = Q("dml_delete_partition_region",
    (s, dir) => {
      val tbl = keylessOrdersTable(s, dir, "orders_mdel")
      val before = priorityFiles(tbl).map(_._1).toSet
      tbl.deleteWhere(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      val after = priorityFiles(tbl).map(_._1).toSet
      require(after.subsetOf(before) && after.nonEmpty,
        "metadata delete must drop manifest entries, never rewrite survivors")
      tbl.read().select(dmlCols.map(col): _*)
    },
    Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
      |FROM orders
      |WHERE NOT coalesce(o_orderpriority IN ('1-URGENT', '2-HIGH'), false)""".stripMargin))

  /** Metadata-only DELETE on a KEYED table (round 8): the CDC-parity
    * retention shape. A keyed (o_orderkey) priority-partitioned orders
    * table in a genuine MoR state — an [[graft.tables.ManagedTable
    * .updateWhere]] upsert batch touching every partition — gets a
    * pure-region DELETE: one manifest diff dropping the region's data,
    * upsert and sidecar entries together (equality scopes are
    * partition-local within the single spec epoch, so no surviving
    * scope can reference the dropped tuples). Runtime-asserts ZERO
    * files read or rewritten (survivors keep their exact paths, MoR
    * upsert groups included) and the changelog barrier stamp. Oracle =
    * the update replayed as CASE-WHEN, then the survivors.
    */
  val dmlDeleteRegionKeyed = Q("dml_delete_region_keyed",
    (s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft_krdel").toString
      val base = t(s, dir, "orders").select(dmlCols.map(col): _*)
      val tbl = graft.tables.ManagedTable.create(s, wh, "orders_krdel",
        base.schema, Seq("o_orderkey"), partitionBy = Seq("o_orderpriority"))
      tbl.append(base)
      tbl.updateWhere(col("o_orderkey") % 10 === 0,
        Map("o_totalprice" -> (col("o_totalprice") + 500.0)))
      val before = priorityFiles(tbl).map(_._1).toSet
      val upsertsBefore = tbl.filesMetadata()
        .filter(col("kind") === "upsert").count()
      tbl.deleteWhere(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      val after = priorityFiles(tbl).map(_._1).toSet
      require(after.subsetOf(before) && after.nonEmpty,
        "keyed region delete must drop manifest entries, never rewrite survivors")
      require(upsertsBefore > 0 && tbl.filesMetadata()
          .filter(col("kind") === "upsert").count() > 0,
        "the MoR state must be genuine: upsert groups before AND after")
      require(tbl.meta.properties(graft.tables.ManagedTable.BarrierKey).toLong ==
          tbl.meta.currentVersion,
        "keyed region delete must stamp the changelog barrier")
      tbl.read().select(dmlCols.map(col): _*)
    },
    Some("""SELECT o_orderkey, o_custkey, o_orderstatus,
      |  CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 500.0
      |       ELSE o_totalprice END AS o_totalprice,
      |  o_orderpriority
      |FROM orders
      |WHERE NOT coalesce(o_orderpriority IN ('1-URGENT', '2-HIGH'), false)""".stripMargin))

  /** Partition-SCOPED keyless COW delete ([[graft.tables.ManagedTable]]
    * scopedKeylessDelete): a MIXED predicate — region conjunct
    * (priority IN …) × row residual (price < …) — rewrites ONLY the
    * region's partitions; every other partition's file groups ride into
    * the new manifest untouched (runtime-asserted), so
    * retention-with-residual costs O(affected partitions), not a
    * full-table rewrite. Oracle = the plain row-level delete replay.
    */
  val dmlDeleteScoped = Q("dml_delete_scoped_region",
    (s, dir) => {
      val tbl = keylessOrdersTable(s, dir, "orders_sdel")
      val before = priorityFiles(tbl)
      tbl.deleteWhere(col("o_orderpriority").isin("1-URGENT", "2-HIGH") &&
        col("o_totalprice") < 100000.0)
      val after = priorityFiles(tbl)
      val hot = Set("1-URGENT", "2-HIGH")
      require(after.filterNot(p => hot(p._2)).map(_._1).toSet ==
          before.filterNot(p => hot(p._2)).map(_._1).toSet,
        "partitions outside the region conjunct must keep their exact files")
      require(after.filter(p => hot(p._2)).map(_._1).toSet
          .intersect(before.map(_._1).toSet).isEmpty,
        "region partitions must be rewritten")
      tbl.read().select(dmlCols.map(col): _*)
    },
    Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
      |FROM orders
      |WHERE NOT coalesce(o_orderpriority IN ('1-URGENT', '2-HIGH')
      |  AND o_totalprice < 100000.0, false)""".stripMargin))

  /** Keyless UPDATE (Iceberg COW-update parity for tables without row
    * identity — previously refused): a region × residual predicate
    * rewrites ONLY the region's partitions (runtime-asserted: every
    * other partition keeps its exact files), applying the SET in place.
    * Oracle = the CASE-WHEN replay. Double math is one IEEE add.
    */
  val dmlUpdateKeyless = Q("dml_update_keyless_region",
    (s, dir) => {
      val tbl = keylessOrdersTable(s, dir, "orders_kupd")
      val before = priorityFiles(tbl)
      tbl.updateWhere(col("o_orderpriority") === "3-MEDIUM" &&
          col("o_totalprice") < 100000.0,
        Map("o_orderstatus" -> lit("M"), "o_totalprice" -> (col("o_totalprice") + 1000.0)))
      val after = priorityFiles(tbl)
      require(after.filterNot(_._2 == "3-MEDIUM").map(_._1).toSet ==
          before.filterNot(_._2 == "3-MEDIUM").map(_._1).toSet,
        "keyless update must rewrite only the region's partitions")
      tbl.read().select(dmlCols.map(col): _*)
    },
    Some("""SELECT o_orderkey, o_custkey,
      |  CASE WHEN o_orderpriority = '3-MEDIUM' AND o_totalprice < 100000.0
      |       THEN 'M' ELSE o_orderstatus END AS o_orderstatus,
      |  CASE WHEN o_orderpriority = '3-MEDIUM' AND o_totalprice < 100000.0
      |       THEN o_totalprice + 1000.0 ELSE o_totalprice END AS o_totalprice,
      |  o_orderpriority
      |FROM orders""".stripMargin))

  /** The V1 DataSource surface (round 8, [[graft.sources.GraftSource]]):
    * a third-party Spark job — NO graft extensions — writes orders
    * through `format("graft-table")` (create-on-first-write with identifier +
    * partition options), appends a second batch, then reads back through
    * the same source — the DSv2 scan, whose region filter prunes on the
    * manifest. Oracle = the same filter in SQL.
    */
  val tableDataSourceV1 = Q("table_datasource_v1",
    (s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft_dsv1").toString
      val base = t(s, dir, "orders").select(dmlCols.map(col): _*)
      base.where(col("o_orderkey") % 2 === 0).write.format("graft-table")
        .option("warehouse", wh).option("table", "orders_ds")
        .option("identifier-fields", "o_orderkey")
        .option("partition-by", "o_orderpriority")
        .mode(org.apache.spark.sql.SaveMode.Append).save()
      base.where(col("o_orderkey") % 2 === 1).write.format("graft-table")
        .option("warehouse", wh).option("table", "orders_ds")
        .mode(org.apache.spark.sql.SaveMode.Append).save()
      s.read.format("graft-table").option("warehouse", wh).option("table", "orders_ds")
        .load()
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 50000.0)
        .select(dmlCols.map(col): _*)
    },
    Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
      |FROM orders
      |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 50000.0""".stripMargin))

  /** KEYED pure-region backfill (round 8 — the overwrite twin of the
    * keyed metadata delete): a keyed priority-partitioned orders table
    * in a genuine MoR state gets `overwriteWhere(region, batch)` where
    * the predicate is a pure function of the identity partition source —
    * the region's entries (MoR groups included) drop as a manifest diff
    * and ONLY the batch is written (runtime-asserted: untouched
    * partitions keep their exact files, the region holds only fresh
    * files), so a keyed CDC backfill costs O(batch) instead of
    * O(region) tombstones. Oracle = survivors ∪ the repriced batch.
    */
  val dmlOverwriteRegionKeyed = Q("dml_overwrite_region_keyed",
    (s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft_krow").toString
      val base = t(s, dir, "orders").select(dmlCols.map(col): _*)
      val tbl = graft.tables.ManagedTable.create(s, wh, "orders_krow",
        base.schema, Seq("o_orderkey"), partitionBy = Seq("o_orderpriority"))
      tbl.append(base)
      tbl.updateWhere(col("o_orderkey") % 10 === 0,
        Map("o_totalprice" -> (col("o_totalprice") + 500.0)))
      val before = priorityFiles(tbl)
      val region = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      val batch = tbl.read().where(region)
        .withColumn("o_totalprice", col("o_totalprice") * 0.5)
        .withColumn("o_orderstatus", lit("B"))
        .select(dmlCols.map(col): _*)
      tbl.overwriteWhere(region, batch)
      val after = priorityFiles(tbl)
      val hot = Set("1-URGENT", "2-HIGH")
      require(after.filterNot(p => hot(p._2)).map(_._1).toSet ==
          before.filterNot(p => hot(p._2)).map(_._1).toSet,
        "untouched partitions must keep their exact files")
      require(after.filter(p => hot(p._2)).map(_._1).toSet
          .intersect(before.map(_._1).toSet).isEmpty,
        "the region must hold only the batch's fresh files")
      tbl.read().select(dmlCols.map(col): _*)
    },
    Some("""WITH upd AS MATERIALIZED (
      |  SELECT o_orderkey, o_custkey, o_orderstatus,
      |    CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 500.0
      |         ELSE o_totalprice END AS o_totalprice,
      |    o_orderpriority
      |  FROM orders)
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
      |FROM upd
      |WHERE NOT coalesce(o_orderpriority IN ('1-URGENT', '2-HIGH'), false)
      |UNION ALL
      |SELECT o_orderkey, o_custkey, 'B' AS o_orderstatus,
      |  o_totalprice * 0.5 AS o_totalprice, o_orderpriority
      |FROM upd
      |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')""".stripMargin))

  /** Commit-exact graft→graft replication ([[graft.cdc.Replicate]]): a
    * replica follows an upstream orders table through seed + three
    * mutation commits (update / region update / hard delete) applied
    * INCREMENTALLY — the catch-up reads only the three commits' groups,
    * never the base, and the exactly-once marker rides the apply commit.
    * The query runtime-asserts marker == upstream version and replica ≡
    * upstream, then returns the replica; the oracle replays the same
    * mutation chain in SQL.
    */
  val cdcReplicate = Q("cdc_replicate_follow",
    (s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft_repl").toString
      val base = t(s, dir, "orders").select(dmlCols.map(col): _*)
      val src = graft.tables.ManagedTable.create(s, wh, "orders_src",
        base.schema, Seq("o_orderkey"))
      src.append(base)
      val dst = graft.tables.ManagedTable.create(s, wh, "orders_replica",
        base.schema, Seq("o_orderkey"))
      graft.cdc.Replicate.syncOnce(src, dst) // initial seed
      // three upstream commits, then ONE incremental catch-up
      src.updateWhere(col("o_orderpriority") === "5-LOW",
        Map("o_orderstatus" -> lit("L")))
      src.updateWhere(col("o_orderstatus") === "O",
        Map("o_totalprice" -> (col("o_totalprice") * 2)))
      src.deleteWhere(col("o_orderstatus") === "F" && col("o_totalprice") < 50000.0)
      val src2 = graft.tables.ManagedTable.load(s, wh, "orders_src").get
      val dst2 = graft.tables.ManagedTable.load(s, wh, "orders_replica").get
      val synced = graft.cdc.Replicate.syncOnce(src2, dst2)
      require(synced == src2.meta.currentVersion &&
        dst2.meta.properties(graft.cdc.Replicate.markerKey(src2)).toLong == synced,
        "replication marker must ride the apply commit")
      dst2.read().select(dmlCols.map(col): _*)
    },
    Some("""WITH s1 AS (
      |  SELECT o_orderkey, o_custkey,
      |    CASE WHEN o_orderpriority = '5-LOW' THEN 'L' ELSE o_orderstatus END AS o_orderstatus,
      |    o_totalprice, o_orderpriority
      |  FROM orders
      |), s2 AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus,
      |    CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
      |    o_orderpriority
      |  FROM s1
      |)
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
      |FROM s2
      |WHERE NOT coalesce(o_orderstatus = 'F' AND o_totalprice < 50000.0, false)""".stripMargin))

  /** Run `f` in a fresh session with the graft extensions and `wh` as
    * its warehouse — the second-session dance every SQL-surface oracle
    * query needs (the Verify session has no extensions) — restoring the
    * caller's default/active sessions afterwards.
    */
  private def withGraftSession[A](s: SparkSession, wh: String)(f: SparkSession => A): A = {
    val prevDefault = org.apache.spark.sql.SparkSession.getDefaultSession
    val prevActive = org.apache.spark.sql.SparkSession.getActiveSession
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val b = org.apache.spark.sql.SparkSession.builder()
        .master(s.sparkContext.master)
        .withExtensions(new graft.GraftExtensions().apply(_))
      s.conf.getAll.foreach { case (k, v) => b.config(k, v) }
      val s2 = b.getOrCreate()
      s2.conf.set("spark.graft.warehouse", wh)
      f(s2)
    } finally {
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
      prevDefault.foreach(org.apache.spark.sql.SparkSession.setDefaultSession)
      prevActive.foreach(org.apache.spark.sql.SparkSession.setActiveSession)
    }
  }

  /** SQL `INSERT OVERWRITE … PARTITION (k=v)` static semantics
    * ([[graft.tables.ManagedTable.overwriteStaticRegion]]): on a
    * priority+bucket partitioned KEYLESS table, the statement replaces
    * the ENTIRE named region — including bucket tuples the replacement
    * batch never lands in, which dynamic overwrite would leave stale —
    * as a zero-rewrite metadata drop plus one batch write. The query
    * asserts the zero-rewrite property at runtime (untouched partitions
    * keep their exact old files); the DuckDB oracle pins the static
    * replace semantics.
    */
  val sqlOverwriteStatic = Q("sql_overwrite_static_partition",
    (s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft_sop").toString
      val base = t(s, dir, "orders").select(dmlCols.map(col): _*)
      val tbl = graft.tables.ManagedTable.create(s, wh, "orders_sop",
        base.schema, Seq.empty,
        partitionBy = Seq("o_orderpriority", "bucket(4, o_orderkey)"))
      tbl.append(base)
      val before = tbl.filesMetadata()
        .select("path", "partition").collect()
        .map(r => r.getString(0) ->
          r.getMap[String, String](1).get("o_orderpriority").orNull).toMap
      withGraftSession(s, wh) { s2 =>
        // the repriced batch covers only part of the region (and so only
        // some bucket tuples) — static overwrite must clear the rest too
        s2.sql(
          s"""INSERT OVERWRITE graft.orders_sop PARTITION (o_orderpriority='1-URGENT')
             |SELECT o_orderkey, o_custkey, o_orderstatus,
             |       o_totalprice * 0.5 AS o_totalprice
             |FROM parquet.`$dir/orders.parquet`
             |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000.0
             |""".stripMargin)
      }
      val after = graft.tables.ManagedTable.load(s, wh, "orders_sop").get
      val afterFiles = after.filesMetadata()
        .select("path", "partition").collect()
        .map(r => r.getString(0) ->
          r.getMap[String, String](1).get("o_orderpriority").orNull)
      val untouched = afterFiles.filterNot(_._2 == "1-URGENT").map(_._1).toSet
      require(untouched == before.filterNot(_._2 == "1-URGENT").keySet &&
        untouched.nonEmpty,
        "static partition overwrite must leave other partitions' files byte-identical")
      require(afterFiles.filter(_._2 == "1-URGENT").map(_._1)
        .forall(p => !before.contains(p)),
        "the named region must hold only the replacement batch's files")
      after.read().select(dmlCols.map(col): _*)
    },
    Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
      |FROM orders WHERE o_orderpriority <> '1-URGENT'
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus,
      |  o_totalprice * 0.5 AS o_totalprice, o_orderpriority
      |FROM orders
      |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000.0""".stripMargin))

  /** Write-audit-publish + snapshot refs end to end through SQL (rounds
    * 8–9): a keyed orders table seeded with the non-urgent rows gets the
    * urgent rows staged on a WAP branch in TWO accumulated
    * `spark.wap.branch` INSERT batches (split by price), the audit step
    * CORRECTS the staged set with row-level DML ON THE BRANCH (round 9 —
    * the lowest urgent orderkey is deleted, staged-only, via `DELETE`
    * under the active branch), and the result folds in atomically by
    * `CALL graft.system.publish_branch`. Runtime-asserts: the staged
    * delete is visible in the branch view and invisible to plain reads;
    * staged rows invisible to plain reads; the pre-branch `baseline` TAG
    * still reads the seed row count AFTER publish; publish is
    * adopt-in-place (zero live snapshot versions burned while staging).
    * Oracle = the whole orders table minus the audited-out key.
    */
  val sqlWapRefs = Q("sql_wap_refs",
    (s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft_wapq").toString
      val base = t(s, dir, "orders").select(dmlCols.map(col): _*)
      val tbl = graft.tables.ManagedTable.create(s, wh, "orders_wap",
        base.schema, Seq("o_orderkey"))
      tbl.append(base.where(col("o_orderpriority") =!= "1-URGENT"))
      val seedCount = tbl.read().count()
      val stagedVersion = tbl.meta.currentVersion
      withGraftSession(s, wh) { s2 =>
        s2.sql("ALTER TABLE graft.orders_wap CREATE TAG baseline")
        s2.sql("ALTER TABLE graft.orders_wap CREATE BRANCH audit")
        s2.conf.set("spark.wap.branch", "audit")
        def stage(pred: String): Unit = s2.sql(
          s"""INSERT INTO graft.orders_wap
             |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
             |FROM parquet.`$dir/orders.parquet`
             |WHERE o_orderpriority = '1-URGENT' AND $pred""".stripMargin)
        stage("o_totalprice > 100000.0")
        stage("o_totalprice <= 100000.0") // accumulates on the branch
        // the audit finds a bad staged row: row-level DML under the
        // active branch STAGES the correction (round 9) — branch view
        // loses the key, the live table never sees any of it
        val audited = s2.sql(
          """SELECT min(o_orderkey) FROM graft.orders_wap
            |WHERE o_orderpriority = '1-URGENT'""".stripMargin).head().getLong(0)
        s2.sql(s"DELETE FROM graft.orders_wap WHERE o_orderkey = $audited")
        require(s2.sql(
          s"SELECT count(*) c FROM graft.orders_wap WHERE o_orderkey = $audited")
            .head().getLong(0) == 0L,
          "the staged delete must be visible in the branch view")
        s2.conf.unset("spark.wap.branch")
        require(s2.sql("SELECT count(*) c FROM graft.orders_wap WHERE o_orderpriority = '1-URGENT'")
            .head().getLong(0) == 0L,
          "staged rows (and staged DML) must be invisible to plain reads")
        s2.sql("CALL graft.system.publish_branch('orders_wap', 'audit')")
        require(s2.sql("SELECT count(*) c FROM graft.orders_wap VERSION AS OF 'baseline'")
            .head().getLong(0) == seedCount,
          "the pre-branch tag must still read the seed snapshot after publish")
      }
      val published = graft.tables.ManagedTable.load(s, wh, "orders_wap").get
      require(published.meta.currentVersion > stagedVersion,
        "publish must advance the version")
      published.read().select(dmlCols.map(col): _*)
    },
    Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
      |FROM orders
      |WHERE o_orderkey <> (SELECT min(o_orderkey) FROM orders
      |                     WHERE o_orderpriority = '1-URGENT')""".stripMargin))

  /** `SHOW PARTITIONS graft.t` under the oracle
    * ([[graft.plans.ResolveGraftDdl]]): live partition tuples answered
    * from the MANIFEST — a LocalRelation plan, zero file scans (the
    * Iceberg partitions-metadata-table answer), runtime-asserted like
    * `sql_manifest_agg`. Identity-only spec so DuckDB can replay the
    * tuple strings from the raw parquet.
    */
  val sqlShowPartitions = Q("sql_show_partitions",
    (s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft_shp").toString
      val base = t(s, dir, "orders").select(dmlCols.map(col): _*)
      val tbl = graft.tables.ManagedTable.create(s, wh, "orders_shp",
        base.schema, Seq.empty, partitionBy = Seq("o_orderpriority"))
      tbl.append(base)
      withGraftSession(s, wh) { s2 =>
        val out = s2.sql("SHOW PARTITIONS graft.orders_shp")
        require(out.queryExecution.optimizedPlan.collectLeaves().forall(
          _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
          "SHOW PARTITIONS did not produce a scan-free plan:\n" +
            out.queryExecution.optimizedPlan)
        out
      }
    },
    Some("""SELECT DISTINCT 'o_orderpriority=' || o_orderpriority AS partition
      |FROM orders""".stripMargin))

  /** SQL-surface LIMIT / ORDER-BY-LIMIT group truncation (round 11):
    * `SELECT … FROM graft.t ORDER BY k LIMIT n` reads the DSv2 table, so
    * the limit and top-N push into [[graft.catalog.GraftScanBuilder]]
    * ([[graft.tables.StatsPrune]]'s rules). On a key-clustered 4-commit
    * table the top-N reads only the boundary group and a bare LIMIT
    * reads only the covering prefix, both runtime-asserted via the
    * served manifest groups against the full read. Sort/Limit
    * stay in the plan, so the unique sort key makes the result exact
    * and deterministic for the oracle hash.
    */
  val sqlLimitTopnPrune = Q("sql_limit_topn_prune",
    (s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft_sqllt").toString
      val base = t(s, dir, "orders").select(dmlCols.map(col): _*)
      val tbl = graft.tables.ManagedTable.create(s, wh, "orders_lt",
        base.schema, Seq.empty, Seq.empty, Map("write.cluster-by" -> "o_orderkey"))
      val qs = base.stat.approxQuantile("o_orderkey", Array(0.25, 0.5, 0.75), 0.01)
      val cuts = Seq(Double.NegativeInfinity) ++ qs ++ Seq(Double.PositiveInfinity)
      val firstChunk = cuts.sliding(2).map { case Seq(lo, hi) =>
        val chunk = base.where(col("o_orderkey") > lo && col("o_orderkey") <= hi)
        tbl.append(chunk)
        chunk.count()
      }.toSeq.head
      withGraftSession(s, wh) { s2 =>
        val full = s2.sql("SELECT o_orderkey FROM graft.orders_lt")
        val lim = s2.sql("SELECT o_orderkey FROM graft.orders_lt LIMIT 100")
        require(v2PlannedGroups(lim) < v2PlannedGroups(full),
          "SQL LIMIT must read a strict subset of groups")
        val topn = s2.sql("SELECT o_orderkey, o_totalprice FROM graft.orders_lt " +
          "ORDER BY o_orderkey LIMIT 100")
        if (firstChunk >= 100L)
          require(v2PlannedGroups(topn) < v2PlannedGroups(full),
            "SQL top-N must read only the boundary group")
        topn
      }
    },
    Some("""SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_orderkey LIMIT 100""".stripMargin))

  /** Manifest-answered SQL aggregates under the oracle: `count(*)` /
    * `min` / `max` over an all-data graft table answer from the
    * manifest's row counts and column bounds — the V2 scan builder's
    * pushed aggregate (a LocalTableScan) for `graft.<t>` SQL and for the
    * `format("graft-table")` DataFrame spelling — ZERO file scans (the Iceberg
    * snapshot-summary answer: milliseconds instead of a 100 TB scan).
    * The query function REQUIRES the scan-free plan shapes at runtime,
    * so this row fails if the answer ever stops firing, and the DuckDB
    * oracle pins the VALUES against the raw parquet.
    */
  val sqlManifestAgg = Q("sql_manifest_agg",
    (s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft_sqlma").toString
      val base = t(s, dir, "orders").select(dmlCols.map(col): _*)
      val tbl = graft.tables.ManagedTable.create(s, wh, "orders_ma",
        base.schema, Seq("o_orderkey"))
      tbl.append(base)
      withGraftSession(s, wh) { s2 =>
        // one multi-aggregate statement folds whole (round 10 — it used
        // to take three single-agg statements combined locally)
        val sqlAnswer = s2.sql(
          """SELECT count(*) AS n_rows, min(o_orderkey) AS min_key,
            |  max(o_orderkey) AS max_key FROM graft.orders_ma""".stripMargin)
        // the DataFrame spelling of the SAME question over
        // format("graft-table") plans the same V2 scan: one combined
        // ungrouped aggregate, answered from the manifest
        val v1 = s2.read.format("graft-table")
          .option("warehouse", wh).option("table", "orders_ma").load()
          .agg(org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("n_rows"),
            org.apache.spark.sql.functions.min("o_orderkey").as("min_key"),
            org.apache.spark.sql.functions.max("o_orderkey").as("max_key"))
        require(graft.catalog.GraftScan.manifestAnswered(sqlAnswer),
          "manifest-answered SQL aggregate did not produce a scan-free plan:\n" +
            sqlAnswer.queryExecution.executedPlan)
        require(graft.catalog.GraftScan.manifestAnswered(v1),
          "manifest-answered V1 aggregate did not produce a scan-free plan:\n" +
            v1.queryExecution.executedPlan)
        require(v1.collect().toSeq == sqlAnswer.collect().toSeq,
          "V1 and SQL manifest-agg answers diverged")
        sqlAnswer
      }
    },
    Some("""SELECT count(*)::BIGINT AS n_rows,
      |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
      |FROM orders""".stripMargin))

  /** Partition-GROUPED manifest aggregates under the oracle (round 10,
    * [[graft.catalog.GraftScanBuilder]]):
    * `GROUP BY <identity partition source>` with count/min/max answered
    * from per-entry row counts and column bounds — the Iceberg
    * partitions-metadata-table rollup, a scan-free plan with ZERO file
    * scans even though the table was appended in TWO batches (multiple
    * entries per tuple fold). Runtime-asserts the scan-free shape for
    * BOTH the SQL and the V1 DataFrame spellings and their value parity;
    * the DuckDB oracle pins the values against the raw parquet.
    */
  val sqlManifestGroupAgg = Q("sql_manifest_group_agg",
    (s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft_sqlmga").toString
      val base = t(s, dir, "orders").select(dmlCols.map(col): _*)
      val tbl = graft.tables.ManagedTable.create(s, wh, "orders_mga",
        base.schema, Seq("o_orderkey"), partitionBy = Seq("o_orderpriority"))
      val mid = base.agg(
        ((min("o_orderkey") + max("o_orderkey")) / 2).cast("long")).head.getLong(0)
      tbl.append(base.where(col("o_orderkey") <= mid))
      tbl.append(base.where(col("o_orderkey") > mid))
      withGraftSession(s, wh) { s2 =>
        val bySql = s2.sql(
          """SELECT o_orderpriority, count(*) AS n_rows,
            |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
            |FROM graft.orders_mga GROUP BY o_orderpriority""".stripMargin)
        val byV1 = s2.read.format("graft-table")
          .option("warehouse", wh).option("table", "orders_mga").load()
          .groupBy(col("o_orderpriority"))
          .agg(count(org.apache.spark.sql.functions.lit(1)).as("n_rows"),
            min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
        require(graft.catalog.GraftScan.manifestAnswered(bySql),
          "grouped manifest SQL aggregate did not produce a scan-free plan:\n" +
            bySql.queryExecution.executedPlan)
        require(graft.catalog.GraftScan.manifestAnswered(byV1),
          "grouped manifest V1 aggregate did not produce a scan-free plan:\n" +
            byV1.queryExecution.executedPlan)
        require(bySql.collect().map(_.toSeq).toSet ==
          byV1.collect().map(_.toSeq).toSet,
          "SQL and V1 grouped manifest-agg answers diverged")
        bySql
      }
    },
    Some("""SELECT o_orderpriority, count(*)::BIGINT AS n_rows,
      |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
      |FROM orders GROUP BY o_orderpriority""".stripMargin))

  /** Composite manifest pruning end to end in SQL (round 9): orders
    * keyed on `o_orderkey`, identity-partitioned on `o_orderstatus`,
    * appended in TWO key-chunked batches so every file group carries
    * tight key bounds alongside its status tuple. The audit query
    * conjoins a status IN list with a key range; runtime-asserts the
    * plan serves strictly fewer groups than the full scan AND than either
    * conjunct alone (the candidate-set intersection is real, not just
    * one predicate winning), then the oracle checks the rows. The key
    * midpoint is data-derived on both sides ((min+max)/2 — BIGINT
    * floor division agrees between Scala and DuckDB on positives).
    */
  val sqlPrunedConjunction = Q("sql_pruned_conjunction",
    (s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft_sqlpc").toString
      val base = t(s, dir, "orders").select(dmlCols.map(col): _*)
      val tbl = graft.tables.ManagedTable.create(s, wh, "orders_pc",
        base.schema, Seq("o_orderkey"), Seq("o_orderstatus"))
      val mm = base.agg(min(col("o_orderkey")), max(col("o_orderkey"))).head()
      val mid = (mm.getLong(0) + mm.getLong(1)) / 2
      tbl.append(base.where(col("o_orderkey") <= mid))
      tbl.append(base.where(col("o_orderkey") > mid))
      withGraftSession(s, wh) { s2 =>
        def q(where: String) = s2.sql(
          s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
             |FROM graft.orders_pc WHERE $where""".stripMargin)
        val all = v2PlannedGroups(s2.sql("SELECT * FROM graft.orders_pc"))
        val fIn = v2PlannedGroups(q("o_orderstatus IN ('F', 'P')"))
        val fRange = v2PlannedGroups(q(s"o_orderkey <= $mid"))
        val conj = q(s"o_orderstatus IN ('F', 'P') AND o_orderkey <= $mid")
        val fConj = v2PlannedGroups(conj)
        require(fIn < all && fRange < all,
          s"single-conjunct pruning lost: in=$fIn range=$fRange all=$all")
        require(fConj < fIn && fConj < fRange,
          s"conjunction must intersect candidate sets: conj=$fConj in=$fIn range=$fRange")
        conj
      }
    },
    Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
      |FROM orders
      |WHERE o_orderstatus IN ('F', 'P')
      |  AND o_orderkey <= (SELECT (min(o_orderkey) + max(o_orderkey)) / 2 FROM orders)""".stripMargin))

  /** Storage-partitioned join through the DSv2 catalog
    * ([[graft.catalog.GraftCatalog]]): customer and orders re-hosted as
    * graft tables CO-BUCKETED on the customer key (`bucket(8)`), then
    * joined THROUGH the V2 seam under
    * `spark.sql.sources.v2.bucketing.enabled`. The executed plan is
    * runtime-asserted EXCHANGE-FREE: both join shuffles drop because each
    * scan reports `KeyGroupedPartitioning` over the catalog's bucket
    * function, whose semantics equal the write path's
    * `pmod(hash(col), n)` — the on-disk layout IS Spark's hash
    * partitioning (Iceberg's SPJ design). At 100 TB this is the fact-dim
    * co-location path: the layout pays its shuffle once at write time,
    * and every co-keyed join after is exchange-free. DuckDB replays the
    * same join on the raw parquet.
    */
  /** The V2 table STREAM under the driver's hash discipline (round 11 —
    * GraftV2StreamSpec pinned the semantics, this row pins the BYTES):
    * `readStream.table("<cat>.t")` drains a keyed MoR table in two
    * AvailableNow runs against one checkpoint — run 1 serves the
    * MoR-RESOLVED attach snapshot (net per key, trickle applied), two
    * more append commits land, run 2 serves exactly those increments (no
    * re-served seed). The drained union must hash-equal DuckDB's replay
    * of snapshot ∪ appends. Zero shuffles, zero driver materialization:
    * batches are manifest-planned file splits at any table size.
    */
  val streamV2Table = Q("stream_v2_table",
    (s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft_v2st").toString
      val base = t(s, dir, "orders").select(dmlCols.map(col): _*)
      val mid = 30000L
      val tbl = graft.tables.ManagedTable.create(s, wh, "orders_v2st",
        base.schema, Seq("o_orderkey"),
        properties = Map("write.versions-retained" -> "10"))
      // seed with MoR trickle: low keys, then a re-statement of a slice
      // (same values — the stream must serve the NET snapshot, and the
      // oracle sees one copy)
      tbl.append(base.where(col("o_orderkey") <= mid))
      tbl.applyNetChanges(base.where(col("o_orderkey") <= 1000L)
        .withColumn("__tomb", lit(false)), "__tomb")
      val ns = s.newSession()
      val cat = s"gv2s_${java.util.UUID.randomUUID().toString.take(8)}"
      ns.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      ns.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      val out = java.nio.file.Files.createTempDirectory("graft_v2st_out").toString
      val ck = java.nio.file.Files.createTempDirectory("graft_v2st_ck").toString
      def drain(): Unit = require(
        ns.readStream.table(s"$cat.orders_v2st").writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start().awaitTermination(300000), "V2 stream drain timed out")
      drain()
      tbl.append(base.where(col("o_orderkey") > mid && col("o_orderkey") <= 2 * mid))
      tbl.append(base.where(col("o_orderkey") > 2 * mid))
      drain()
      s.read.parquet(out).select(dmlCols.map(col): _*)
    },
    Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
      |FROM orders""".stripMargin))

  /** One JVM-wide SPJ scratch warehouse, reclaimed by a SINGLE exit hook
    * — see [[sqlSpjCobucketed]].
    */
  private lazy val spjWarehouseRoot: java.io.File = {
    val root = java.nio.file.Files.createTempDirectory("graft_spj").toFile
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(root)
    }
    root
  }

  val sqlSpjCobucketed = Q("sql_spj_cobucketed",
    (s, dir) => {
      // the returned frame reads the re-hosted tables lazily, so the
      // warehouse must outlive the query. ONE warehouse + ONE exit hook
      // per JVM (bench invokes this 3+ times in-process — per-invocation
      // hooks would accumulate); re-runs re-host under a fresh suffix
      val wh = java.nio.file.Files.createTempDirectory(
        spjWarehouseRoot.toPath, "run").toString
      val cust = t(s, dir, "customer").select("c_custkey", "c_name")
      val ords = t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
      val tc = graft.tables.ManagedTable.create(s, wh, "cust_b",
        cust.schema, Seq.empty, Seq("bucket(8, c_custkey)"))
      tc.append(cust)
      val to = graft.tables.ManagedTable.create(s, wh, "orders_b",
        ords.schema, Seq.empty, Seq("bucket(8, o_custkey)"))
      to.append(ords)
      // isolated session: the SPJ confs ride with the returned frame's
      // session instead of mutating the caller's (an unset
      // autoBroadcastJoinThreshold would warp every later query)
      val ns = s.newSession()
      val cat = s"gspj_${java.util.UUID.randomUUID().toString.take(8)}"
      ns.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      ns.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      ns.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      ns.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      ns.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = ns.sql(
        s"""SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
           |FROM $cat.cust_b c JOIN $cat.orders_b o ON c.c_custkey = o.o_custkey
           |""".stripMargin)
      // plan-shape assert needs no action: exchanges appear (or don't) in
      // the initial physical plan — AQE only ever re-plans around them
      val planStr = df.queryExecution.executedPlan.toString
      require(!planStr.contains("Exchange"),
        s"co-bucketed V2 join must be storage-partitioned (no exchange):\n$planStr")
      df
    },
    Some("""SELECT c_custkey, c_name, o_orderkey, o_totalprice
      |FROM customer JOIN orders ON c_custkey = o_custkey""".stripMargin))

  /** Mergeable HLL sketch rollup ([[graft.operators.SketchRollup]],
    * Spark's Datasketches functions): per-day distinct-user sketches
    * built once from raw events — every later range/rollup question
    * unions stored sketches, never rescanning events. The oracle checks
    * the exact per-day counts AND pins the estimate's error: the
    * `est_within_5pct` column is computed from the (deterministic,
    * order-insensitive) sketch on the Spark side and claimed `true` by
    * DuckDB — an estimate drifting past 5 % flips the cell and fails
    * the hash.
    */
  val aggSketchRollup = Q("agg_sketch_rollup",
    (s, dir) => {
      val daily = graft.operators.SketchRollup.build(
        events(s, dir).withColumn("day", to_date(col("ts"))),
        Seq("day"), "user_id")
      daily.select(col("day").cast("string").as("day"),
        col("n_rows"), col("exact_nd"),
        (abs(hll_sketch_estimate(col("sketch")) - col("exact_nd")) <=
          col("exact_nd") * 0.05).as("est_within_5pct"))
    },
    Some("""SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
      |  count(*) AS n_rows, count(DISTINCT user_id) AS exact_nd,
      |  true AS est_within_5pct
      |FROM events GROUP BY 1""".stripMargin))

  /** Z-order clustered layout under the oracle ([[graft.tables.ZOrder]] /
    * `write.cluster-by` compaction): orders re-hosted, clustered on
    * (o_custkey, o_totalprice), then range-read on the SECOND cluster
    * column — per-slice groups carry tight multi-column bounds, so the
    * read opens a fraction of the groups (pruning asserted at file level
    * in ManagedTableSpec; the driver hash proves the pruned read is
    * EXACT). Oracle = the plain BETWEEN scan.
    */
  val tableZorderRead = Q("table_zorder_read",
    (s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft_zorder").toString
      val base = t(s, dir, "orders").select(dmlCols.map(col): _*)
      val tbl = graft.tables.ManagedTable.create(s, wh, "orders_z",
        base.schema, Seq.empty,
        properties = Map("write.cluster-by" -> "o_custkey,o_totalprice",
          "compact.cluster-groups" -> "8"))
      tbl.append(base)
      tbl.compact() // z-order layout materializes here
      tbl.readColRange("o_totalprice", 50000.0, 100000.0)
        .select(dmlCols.map(col): _*)
    },
    Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
      |FROM orders WHERE o_totalprice BETWEEN 50000.0 AND 100000.0""".stripMargin))

  /** Snapshot tags + rollback under the oracle: tag the half-loaded
    * table, keep loading, then ROLL BACK to the tag — the read after
    * rollback must be exactly the tagged state (rollback is a NEW
    * version re-committing the old manifest, so history is preserved;
    * RollbackSpec covers that part). Oracle = the first half.
    */
  val tableRollbackTag = Q("table_rollback_tag",
    (s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft_rbtag").toString
      val base = t(s, dir, "orders").select(dmlCols.map(col): _*)
      val tbl = graft.tables.ManagedTable.create(s, wh, "orders_rb",
        base.schema, Seq("o_orderkey"))
      tbl.append(base.where(col("o_orderkey") % 2 === 0))
      tbl.tag("halfway")
      tbl.append(base.where(col("o_orderkey") % 2 === 1))
      tbl.rollbackTo(tbl.tags()("halfway"))
      tbl.read().select(dmlCols.map(col): _*)
    },
    Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
      |FROM orders WHERE o_orderkey % 2 = 0""".stripMargin))

  /** Write-audit-publish under the oracle: the staged branch is
    * invisible to readers ('staged' phase = the base half only), the
    * audit view sees base + staged, and publish folds the staged groups
    * in atomically ('published' = everything). One labeled union output
    * pins all three visibility states in a single hash.
    */
  val tableWapPublish = Q("table_wap_publish",
    (s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft_wap").toString
      val base = t(s, dir, "orders").select(dmlCols.map(col): _*)
      val tbl = graft.tables.ManagedTable.create(s, wh, "orders_wap",
        base.schema, Seq("o_orderkey"))
      tbl.append(base.where(col("o_orderkey") % 2 === 0))
      tbl.stageAppend(base.where(col("o_orderkey") % 2 === 1), "audit")
      val staged = tbl.read().select(dmlCols.map(col): _*)
        .withColumn("phase", lit("staged"))
      val audited = tbl.readBranch("audit").select(dmlCols.map(col): _*)
        .withColumn("phase", lit("audit"))
      tbl.publishBranch("audit")
      val published = tbl.read().select(dmlCols.map(col): _*)
        .withColumn("phase", lit("published"))
      staged.unionByName(audited).unionByName(published)
    },
    Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority,
      |  'staged' AS phase FROM orders WHERE o_orderkey % 2 = 0
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority,
      |  'audit' AS phase FROM orders
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority,
      |  'published' AS phase FROM orders""".stripMargin))

  /** Incremental changelog under the oracle
    * ([[graft.tables.ManagedTable.readChangesBetween]]): v1 loads evens,
    * v2 UPDATEs the %4==0 slice, v3 DELETEs the (disjoint) %4==2 slice;
    * the changelog over (v1, v3] must be exactly the re-emitted update
    * rows (seq 2, live) plus the tombstoned delete rows carrying their
    * pre-delete values (seq 3) — commit seqs ARE versions, so every cell
    * is deterministic and DuckDB replays the log relationally.
    */
  val tableChangelog = Q("table_changelog",
    (s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft_chlog").toString
      val base = t(s, dir, "orders").select(dmlCols.map(col): _*)
      val tbl = graft.tables.ManagedTable.create(s, wh, "orders_log",
        base.schema, Seq("o_orderkey"))
      tbl.append(base.where(col("o_orderkey") % 2 === 0)) // v1
      tbl.updateWhere(col("o_orderkey") % 4 === 0,
        Map("o_totalprice" -> (col("o_totalprice") + 1))) // v2
      tbl.deleteWhere(col("o_orderkey") % 4 === 2)        // v3
      tbl.readChangesBetween(1L, 3L)
        .select(col("o_orderkey"), col("o_totalprice"),
          col(graft.tables.ManagedTable.SeqCol).as("commit_seq"),
          col(graft.tables.ManagedTable.TombstoneCol).as("deleted"))
    },
    Some("""SELECT o_orderkey, o_totalprice + 1 AS o_totalprice,
      |  2::BIGINT AS commit_seq, false AS deleted
      |FROM orders WHERE o_orderkey % 4 = 0
      |UNION ALL
      |SELECT o_orderkey, o_totalprice, 3::BIGINT AS commit_seq, true AS deleted
      |FROM orders WHERE o_orderkey % 4 = 2""".stripMargin))

  /** SQL MERGE through [[graft.tables.ManagedTable.mergeInto]]: source =
    * every 7th order twice — once under its own key (matched: delete if
    * 'F', else price+1) and once shifted out of the key range (unmatched:
    * insert if custkey even). One source-vs-state join, one upsert-group
    * commit; the oracle replays the fold relationally.
    */
  val dmlMerge = Q("dml_merge_into",
    (s, dir) => {
      val tbl = ordersTable(s, dir, "orders_mrg")
      val base = t(s, dir, "orders").select(dmlCols.map(col): _*)
        .where(col("o_orderkey") % 7 === 0)
      val src = base.unionByName(
        base.withColumn("o_orderkey", col("o_orderkey") + lit(100000000L)))
      tbl.mergeInto(src,
        updateWhen = Some(lit(true)),
        updateSet = Map("o_totalprice" -> (col("s.o_totalprice") + 1)),
        deleteWhen = Some(col("s.o_orderstatus") === "F"),
        insertWhen = Some(col("s.o_custkey") % 2 === 0))
      tbl.read().select(dmlCols.map(col): _*)
    },
    Some("""SELECT o_orderkey, o_custkey, o_orderstatus,
      |  CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1 ELSE o_totalprice END AS o_totalprice,
      |  o_orderpriority
      |FROM orders WHERE NOT (o_orderkey % 7 = 0 AND o_orderstatus = 'F')
      |UNION ALL
      |SELECT o_orderkey + 100000000, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
      |FROM orders WHERE o_orderkey % 7 = 0 AND o_custkey % 2 = 0""".stripMargin))

  /** MERGE with BY SOURCE clauses — the full-sync/re-snapshot shape: the
    * source re-states every 3rd order (matched: delete 'F', else price+1)
    * plus shifted new keys (unmatched: insert if even custkey); target rows
    * ABSENT from the source delete if 'O', else flag priority STALE above
    * 100k. One matched join + one key anti-join (broadcast when the source
    * is small), diff-sized write; DuckDB replays all five clauses.
    */
  val dmlMergeBySource = Q("dml_merge_by_source",
    (s, dir) => {
      val tbl = ordersTable(s, dir, "orders_mbs")
      val base = t(s, dir, "orders").select(dmlCols.map(col): _*)
        .where(col("o_orderkey") % 3 === 0)
      val src = base.unionByName(
        base.withColumn("o_orderkey", col("o_orderkey") + lit(100000000L)))
      tbl.mergeInto(src,
        updateWhen = Some(lit(true)),
        updateSet = Map("o_totalprice" -> (col("s.o_totalprice") + 1)),
        deleteWhen = Some(col("s.o_orderstatus") === "F"),
        insertWhen = Some(col("s.o_custkey") % 2 === 0),
        deleteBySourceWhen = Some(col("t.o_orderstatus") === "O"),
        updateBySourceWhen = Some(col("t.o_totalprice") > lit(100000.0)),
        updateBySourceSet = Map("o_orderpriority" -> lit("STALE")))
      tbl.read().select(dmlCols.map(col): _*)
    },
    Some("""SELECT o_orderkey, o_custkey, o_orderstatus,
      |  o_totalprice + 1 AS o_totalprice, o_orderpriority
      |FROM orders WHERE o_orderkey % 3 = 0 AND o_orderstatus <> 'F'
      |UNION ALL
      |SELECT o_orderkey + 100000000, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
      |FROM orders WHERE o_orderkey % 3 = 0 AND o_custkey % 2 = 0
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  CASE WHEN o_totalprice > 100000 THEN 'STALE' ELSE o_orderpriority END AS o_orderpriority
      |FROM orders WHERE o_orderkey % 3 <> 0 AND o_orderstatus <> 'O'""".stripMargin))

  /** S2/R4/F1 — envelope decode recovers the original rows: events are
    * re-encoded as Debezium json envelopes, then decoded back through the
    * full inference + from_json + conversion path. Oracle = the raw table.
    */
  val cdcDecode = Q("cdc_decode_envelope",
    (s, dir) => {
      val schemaJson =
        """{"type":"struct","fields":[
          |{"field":"event_id","type":"int64","optional":false},
          |{"field":"user_id","type":"int64","optional":true},
          |{"field":"event_type","type":"string","optional":true},
          |{"field":"value","type":"float64","optional":true},
          |{"field":"props","type":"string","optional":true}
          |]}""".stripMargin.replaceAll("\n", "")
      val env = events(s, dir).select(concat(
        lit(s"""{"schema":$schemaJson,"payload":"""),
        to_json(struct(col("event_id"), col("user_id"), col("event_type"), col("value"), col("props"))),
        lit("}")).as("value"))
      val inferred = EventDecoder.infer(Seq(schemaJson),
        Some("""{"type":"struct","fields":[{"field":"event_id","type":"int64"}]}"""))
      EventDecoder.decode(env, inferred)
    },
    Some("SELECT event_id, user_id, event_type, value, props FROM events"))

  val cdcOpMapping = Q("cdc_op_mapping",
    (s, dir) => cdcEvents(s, dir).groupBy("__op")
      .agg(count(lit(1)).as("n"),
        sum(expr(Operation.prioritySql("__op"))).cast("long").as("prio_sum")),
    Some(s"""WITH e AS ($cdcEventsSql)
      |SELECT __op, count(*) AS n, sum($opPrioSql)::BIGINT AS prio_sum
      |FROM e GROUP BY __op""".stripMargin))

  // ------------------------------------------------- conversion functions

  val fnTemporal = Q("fn_temporal",
    (s, dir) => events(s, dir).select(
      col("event_id"),
      // F7/F8: epoch micros -> timestamp -> fixed-width string round trip
      date_format(timestamp_micros(unix_micros(col("ts"))), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_str"),
      to_date(col("ts")).cast("string").as("d_str"),
      year(col("ts")).cast("long").as("y"),
      month(col("ts")).cast("long").as("m"),
      dayofmonth(col("ts")).cast("long").as("d"),
      hour(col("ts")).cast("long").as("h"),
      date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("trunc_h"),
      (unix_micros(col("ts")) / lit(1000L)).cast("long").as("ts_ms"),
      // F5: epoch-days -> date (the Debezium Date logical path)
      date_add(to_date(lit("1970-01-01")), datediff(to_date(col("ts")), to_date(lit("1970-01-01"))))
        .cast("string").as("d_roundtrip")),
    Some("""SELECT event_id,
      |  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
      |  strftime(ts, '%Y-%m-%d') AS d_str,
      |  year(ts)::BIGINT AS y, month(ts)::BIGINT AS m, day(ts)::BIGINT AS d,
      |  hour(ts)::BIGINT AS h,
      |  strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS trunc_h,
      |  (epoch_us(ts) // 1000)::BIGINT AS ts_ms,
      |  strftime(ts::DATE, '%Y-%m-%d') AS d_roundtrip
      |FROM events""".stripMargin))

  /** F7/F8 temporal precision modes: the same unannotated epoch long
    * conformed to timestamp columns under each
    * `debezium.source.time.precision.mode` (isostring/micro default →
    * micros for ntz, nanoseconds → integral nanos→micros, connect →
    * millis; reference AbstractEventConverter.java:107-206 fallback arms).
    * Output as fixed-width strings like fn_temporal to keep the comparison
    * surface type-stable.
    */
  val fnTemporalModes = Q("fn_temporal_modes",
    (s, dir) => {
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      val v = pmod(unix_micros(col("ts")), lit(1000000000000L))
      def f(m: TemporalMode, dst: org.apache.spark.sql.types.DataType) =
        date_format(SchemaMapping.coerceTo(v, LongType, dst, m),
          "yyyy-MM-dd HH:mm:ss.SSSSSS")
      events(s, dir).select(
        col("event_id"),
        f(TemporalMode.IsoString, TimestampNTZType).as("iso_ntz"),
        f(TemporalMode.Nano, TimestampNTZType).as("nano_ntz"),
        f(TemporalMode.Connect, TimestampNTZType).as("connect_ntz"),
        f(TemporalMode.Micro, TimestampType).as("micro_tz"))
    },
    Some("""SELECT event_id,
      |  strftime(make_timestamp(epoch_us(ts) % 1000000000000), '%Y-%m-%d %H:%M:%S.%f') AS iso_ntz,
      |  strftime(make_timestamp((epoch_us(ts) % 1000000000000) // 1000), '%Y-%m-%d %H:%M:%S.%f') AS nano_ntz,
      |  strftime(make_timestamp((epoch_us(ts) % 1000000000000) * 1000), '%Y-%m-%d %H:%M:%S.%f') AS connect_ntz,
      |  strftime(make_timestamp(epoch_us(ts) % 1000000000000), '%Y-%m-%d %H:%M:%S.%f') AS micro_tz
      |FROM events""".stripMargin))

  val fnJson = Q("fn_json_extract",
    (s, dir) => events(s, dir).select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast("long").as("k")),
    Some("SELECT event_id, json_extract_string(props, '$.k')::BIGINT AS k FROM events"))

  /** Array-function family over a deterministic integer list per
    * document: sort, distinct-count, membership, max, and a fold sum —
    * the collection-expression surface (F11's scalar cousin). The array
    * itself exports as a joined string so the driver hash stays on
    * scalar columns.
    */
  val fnArray = Q("fn_array",
    (s, dir) => {
      val a = array(col("n_chars") % 7, col("n_chars") % 5,
        col("n_chars") % 3, col("doc_id") % 11)
      t(s, dir, "documents").select(col("doc_id"), a.as("a"))
        .select(col("doc_id"),
          array_join(sort_array(col("a")), ",").as("sorted_str"),
          size(array_distinct(col("a"))).cast("long").as("n_distinct"),
          array_contains(col("a"), 3L).as("has3"),
          array_max(col("a")).as("amax"),
          aggregate(col("a"), lit(0L), (acc, x) => acc + x).as("asum"))
    },
    Some("""WITH d AS (SELECT doc_id,
      |  [n_chars % 7, n_chars % 5, n_chars % 3, doc_id % 11] AS a FROM documents)
      |SELECT doc_id,
      |  array_to_string(list_sort(a), ',') AS sorted_str,
      |  len(list_distinct(a))::BIGINT AS n_distinct,
      |  list_contains(a, 3) AS has3,
      |  list_max(a) AS amax,
      |  list_sum(a)::BIGINT AS asum
      |FROM d""".stripMargin))

  val fnString = Q("fn_string",
    (s, dir) => t(s, dir, "documents").select(
      col("doc_id"),
      upper(substring(col("text"), 1, 20)).as("head_upper"),
      length(col("text")).cast("long").as("len"),
      regexp_replace(col("text"), "[aeiou]", "_").substr(lit(1), lit(30)).as("devoweled"),
      concat_ws(":", col("lang"), col("source")).as("tag"),
      reverse(split(col("text"), " ")).getItem(0).as("last_word")),
    Some("""SELECT doc_id,
      |  upper(substr(text, 1, 20)) AS head_upper,
      |  length(text)::BIGINT AS len,
      |  substr(regexp_replace(text, '[aeiou]', '_', 'g'), 1, 30) AS devoweled,
      |  concat_ws(':', lang, source) AS tag,
      |  list_reverse(string_split(text, ' '))[1] AS last_word
      |FROM documents""".stripMargin))

  val fnHash = Q("fn_hash",
    (s, dir) => t(s, dir, "documents").select(
      col("doc_id"),
      md5(col("text")).as("h_md5"),
      sha2(col("text").cast("binary"), 256).as("h_sha256"),
      base64(col("text").cast("binary")).substr(lit(1), lit(24)).as("b64_head"),
      conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long").as("h_int"),
      pmod(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"), lit(16)).cast("long").as("h_bucket")),
    Some("""SELECT doc_id,
      |  md5(text) AS h_md5,
      |  sha256(text) AS h_sha256,
      |  substr(to_base64(encode(text)), 1, 24) AS b64_head,
      |  ('0x'||substr(md5(text),1,8))::BIGINT AS h_int,
      |  ('0x'||substr(md5(text),1,8))::BIGINT % 16 AS h_bucket
      |FROM documents""".stripMargin))

  // D4 partition transforms as data (what the table layer derives)
  val partitionTransforms = Q("partition_transforms",
    (s, dir) => events(s, dir).select(
      col("event_id"),
      year(col("ts")).cast("long").as("p_year"),
      date_format(col("ts"), "yyyy-MM").as("p_month"),
      date_format(col("ts"), "yyyy-MM-dd").as("p_day"),
      date_format(col("ts"), "yyyy-MM-dd-HH").as("p_hour"),
      pmod(conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10).cast("long"), lit(8))
        .cast("long").as("p_bucket"),
      substring(col("event_type"), 1, 3).as("p_trunc")),
    Some("""SELECT event_id,
      |  year(ts)::BIGINT AS p_year,
      |  strftime(ts, '%Y-%m') AS p_month,
      |  strftime(ts, '%Y-%m-%d') AS p_day,
      |  strftime(ts, '%Y-%m-%d-%H') AS p_hour,
      |  ('0x'||substr(md5(user_id::VARCHAR),1,8))::BIGINT % 8 AS p_bucket,
      |  substr(event_type, 1, 3) AS p_trunc
      |FROM events""".stripMargin))

  // ------------------------------------------------------ relational surface

  val q1Agg = Q("q1_agg",
    (s, dir) => t(s, dir, "lineitem")
      .where(col("l_shipdate") <= lit("1999-12-31"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        // Internal math stays exact decimal; the *comparison surface* is
        // DOUBLE, because the driver's hash is sensitive to decimal physical
        // encoding even when logical types + values match exactly (the
        // proven fn_decimal_precise recipe — both engines cast the identical
        // exact decimal to the same nearest IEEE double).
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
        sum((col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("decimal(28,4)")).cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order")),
    Some("""SELECT l_returnflag, l_linestatus,
      |  sum(l_quantity::DECIMAL(18,2))::DOUBLE AS sum_qty,
      |  sum(l_extendedprice::DECIMAL(18,2))::DOUBLE AS sum_base_price,
      |  sum((l_extendedprice::DECIMAL(18,2) * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2)))::DECIMAL(28,4))::DOUBLE AS sum_disc_price,
      |  count(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= '1999-12-31'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin))

  val qJoinDims = Q("q_join_dims",
    (s, dir) => t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("customers"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("sum_acctbal")),
    Some("""SELECT r_name, n_name, count(*) AS customers,
      |  sum(c_acctbal::DECIMAL(18,2))::DOUBLE AS sum_acctbal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name""".stripMargin))

  val qJoinFact = Q("q_join_fact",
    (s, dir) => t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        sum((col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("decimal(28,4)")).as("revenue"),
        count(lit(1)).as("n_items")),
    Some("""SELECT o_orderpriority,
      |  sum((l_extendedprice::DECIMAL(18,2) * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2)))::DECIMAL(28,4)) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority""".stripMargin))

  val qTopkWindow = Q("q_topk_window",
    (s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders").withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select(col("o_orderpriority"), col("rk").cast("long").as("rk"),
          col("o_orderkey"), col("o_totalprice"))
    },
    Some("""SELECT o_orderpriority, rk::BIGINT AS rk, o_orderkey, o_totalprice FROM (
      |  SELECT *, row_number() OVER (PARTITION BY o_orderpriority
      |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk FROM orders) t
      |WHERE rk <= 3""".stripMargin))

  val qAnalyticWindow = Q("q_analytic_window",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      events(s, dir).select(
        col("event_id"), col("user_id"),
        lag("value", 1).over(w).as("prev_value"),
        round(avg("value").over(w.rowsBetween(-2, 0)), 6).as("mov_avg"),
        row_number().over(w).cast("long").as("seq"))
    },
    Some("""SELECT event_id, user_id,
      |  lag(value, 1) OVER w AS prev_value,
      |  round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS mov_avg,
      |  row_number() OVER w::BIGINT AS seq
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin))

  val qSortLimit = Q("q_sort_limit",
    (s, dir) => t(s, dir, "lineitem")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
      .limit(100)
      .select("l_orderkey", "l_linenumber", "l_extendedprice"),
    Some("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
      |ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC LIMIT 100""".stripMargin))

  val qSetOps = Q("q_set_ops",
    (s, dir) => {
      val withOrders = t(s, dir, "orders").select(col("o_custkey").as("custkey")).distinct()
      val negBal = t(s, dir, "customer").where(col("c_acctbal") < 0)
        .select(col("c_custkey").as("custkey")).distinct()
      withOrders.except(negBal).withColumn("cohort", lit("ordered_nonneg"))
        .unionAll(withOrders.intersect(negBal).withColumn("cohort", lit("ordered_neg")))
        .groupBy("cohort").agg(count(lit(1)).as("n"))
    },
    Some("""WITH wo AS (SELECT DISTINCT o_custkey AS custkey FROM orders),
      |nb AS (SELECT DISTINCT c_custkey AS custkey FROM customer WHERE c_acctbal < 0),
      |u AS (
      |  SELECT custkey, 'ordered_nonneg' AS cohort FROM (SELECT custkey FROM wo EXCEPT SELECT custkey FROM nb)
      |  UNION ALL
      |  SELECT custkey, 'ordered_neg' AS cohort FROM (SELECT custkey FROM wo INTERSECT SELECT custkey FROM nb))
      |SELECT cohort, count(*) AS n FROM u GROUP BY cohort""".stripMargin))

  val qRollup = Q("q_rollup",
    (s, dir) => t(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        count(lit(1)).as("n")),
    Some("""SELECT l_returnflag, l_linestatus,
      |  sum(l_quantity::DECIMAL(18,2))::DOUBLE AS sum_qty, count(*) AS n
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin))

  /** Explicit GROUPING SETS (the general form rollup/cube specialize):
    * two chosen groupings in one pass plus grouping_id to disambiguate
    * the null-as-total rows from genuine null keys.
    */
  val qGroupingSets = Q("q_grouping_sets",
    (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_gs")
      s.sql("""SELECT l_returnflag, l_linestatus,
        |  CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, count(*) AS n
        |FROM lineitem_gs
        |GROUP BY GROUPING SETS ((l_returnflag), (l_returnflag, l_linestatus))""".stripMargin)
    },
    Some("""SELECT l_returnflag, l_linestatus,
      |  grouping_id(l_returnflag, l_linestatus)::BIGINT AS gid,
      |  sum(l_quantity::DECIMAL(18,2))::DOUBLE AS sum_qty, count(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_returnflag, l_linestatus))""".stripMargin))

  /** RANGE-frame window (value-based, not row-based): per return flag,
    * the count and quantity sum of all line items priced within ±100.00
    * of the current row — the "peer band" analytic shape. The order key
    * is exact integer CENTS (decimal×100→long) so the band edges are
    * bit-identical in both engines.
    */
  val qRangeFrameWindow = Q("q_range_frame_window",
    (s, dir) => {
      val cents = (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
      val w = Window.partitionBy("l_returnflag").orderBy(cents)
        .rangeBetween(-10000L, 10000L)
      t(s, dir, "lineitem")
        .where(col("l_orderkey") % 31 === 0) // keep the output compact
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          count(lit(1)).over(w).as("n_band"),
          sum(col("l_quantity").cast("decimal(18,2)")).over(w)
            .cast("double").as("qty_band"))
    },
    Some("""SELECT l_orderkey, l_linenumber, l_returnflag,
      |  count(*) OVER w AS n_band,
      |  (sum(l_quantity::DECIMAL(18,2)) OVER w)::DOUBLE AS qty_band
      |FROM lineitem WHERE l_orderkey % 31 = 0
      |WINDOW w AS (PARTITION BY l_returnflag
      |  ORDER BY (l_extendedprice::DECIMAL(18,2) * 100)::BIGINT
      |  RANGE BETWEEN 10000 PRECEDING AND 10000 FOLLOWING)""".stripMargin))

  /** Correlated LATERAL subquery with per-row ORDER BY + LIMIT — the
    * top-N-per-group shape written the SQL-native way (Catalyst
    * decorrelates it; DuckDB runs the same text modulo join syntax).
    */
  val qLateralTopk = Q("q_lateral_topk",
    (s, dir) => {
      t(s, dir, "region").createOrReplaceTempView("region_lv")
      t(s, dir, "nation").createOrReplaceTempView("nation_lv")
      t(s, dir, "customer").createOrReplaceTempView("customer_lv")
      s.sql("""SELECT r.r_name, t.n_name, t.n_customers
        |FROM region_lv r
        |JOIN LATERAL (
        |  SELECT n_name, count(*) AS n_customers
        |  FROM nation_lv n JOIN customer_lv c ON c.c_nationkey = n.n_nationkey
        |  WHERE n.n_regionkey = r.r_regionkey
        |  GROUP BY n_name
        |  ORDER BY n_customers DESC, n_name ASC
        |  LIMIT 2
        |) t""".stripMargin)
    },
    Some("""SELECT r.r_name, t.n_name, t.n_customers
      |FROM region r, LATERAL (
      |  SELECT n_name, count(*) AS n_customers
      |  FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
      |  WHERE n.n_regionkey = r.r_regionkey
      |  GROUP BY n_name
      |  ORDER BY n_customers DESC, n_name ASC
      |  LIMIT 2
      |) t""".stripMargin))

  val qDistinctAgg = Q("q_distinct_agg",
    (s, dir) => t(s, dir, "lineitem").groupBy("l_returnflag")
      .agg(countDistinct("l_partkey").as("nd_part"),
        countDistinct("l_suppkey").as("nd_supp"),
        count(lit(1)).as("n")),
    Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS nd_part,
      |  count(DISTINCT l_suppkey) AS nd_supp, count(*) AS n
      |FROM lineitem GROUP BY l_returnflag""".stripMargin))

  val qSubquery = Q("q_subquery_above_avg",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val avgByPrio = o.groupBy("o_orderpriority")
        .agg(avg(col("o_totalprice").cast("decimal(18,2)")).cast("decimal(18,2)").as("prio_avg"))
      o.join(broadcast(avgByPrio), "o_orderpriority")
        .where(col("o_totalprice").cast("decimal(18,2)") > col("prio_avg") * 2)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_big"), max("o_totalprice").as("max_price"))
    },
    Some("""WITH a AS (SELECT o_orderpriority, avg(o_totalprice::DECIMAL(18,2))::DECIMAL(18,2) AS prio_avg
      |  FROM orders GROUP BY o_orderpriority)
      |SELECT o.o_orderpriority, count(*) AS n_big, max(o_totalprice) AS max_price
      |FROM orders o JOIN a ON o.o_orderpriority = a.o_orderpriority
      |WHERE o.o_totalprice::DECIMAL(18,2) > prio_avg * 2
      |GROUP BY o.o_orderpriority""".stripMargin))

  val qSemiJoin = Q("q_semi_join",
    (s, dir) => {
      val err = events(s, dir).where(col("event_type") === "error")
        .select(col("user_id")).distinct()
      t(s, dir, "customer").join(err, col("c_custkey") === col("user_id"), "left_semi")
        .agg(count(lit(1)).as("n_error_customers"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("decimal(38,2)").as("bal"))
    },
    Some("""SELECT count(*) AS n_error_customers, sum(c_acctbal::DECIMAL(18,2)) AS bal
      |FROM customer WHERE c_custkey IN (SELECT user_id FROM events WHERE event_type='error')""".stripMargin))

  val qSessionize = Q("q_sessionize",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val gapped = events(s, dir).select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("gap_s", (unix_micros(col("ts")) - unix_micros(lag("ts", 1).over(w))) / lit(1000000L))
        .withColumn("new_sess", when(col("gap_s").isNull || col("gap_s") > 1800, 1).otherwise(0))
      val sess = gapped.withColumn("sess_id",
        sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      sess.groupBy("user_id", "sess_id")
        .agg(count(lit(1)).as("events_in_session"))
        .groupBy("user_id")
        .agg(count(lit(1)).cast("long").as("n_sessions"),
          max("events_in_session").cast("long").as("max_session_events"))
    },
    Some("""WITH g AS (
      |  SELECT user_id, ts, event_id,
      |    (epoch_us(ts) - epoch_us(lag(ts,1) OVER w)) / 1000000 AS gap_s
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, ts, event_id,
      |    sum(CASE WHEN gap_s IS NULL OR gap_s > 1800 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
      |  FROM g),
      |c AS (SELECT user_id, sess_id, count(*) AS events_in_session FROM s GROUP BY user_id, sess_id)
      |SELECT user_id, count(*)::BIGINT AS n_sessions, max(events_in_session)::BIGINT AS max_session_events
      |FROM c GROUP BY user_id""".stripMargin))

  /** Funnel analysis: per user, earliest signup → first click at/after it
    * → first purchase at/after that, then stage-reach counts. Chained
    * conditional-min windows all partition on user_id, so the whole funnel
    * costs ONE hash shuffle regardless of stage count — the scalable shape
    * for sequence analytics over an event log.
    */
  val qFunnel = Q("q_funnel",
    (s, dir) => {
      val w = Window.partitionBy("user_id")
      events(s, dir)
        .withColumn("t1", min(when(col("event_type") === "signup", col("ts"))).over(w))
        .withColumn("t2", min(when(col("event_type") === "click" && col("ts") >= col("t1"), col("ts"))).over(w))
        .withColumn("t3", min(when(col("event_type") === "purchase" && col("ts") >= col("t2"), col("ts"))).over(w))
        .agg(
          count_distinct(when(col("t1").isNotNull, col("user_id"))).as("reached_signup"),
          count_distinct(when(col("t2").isNotNull, col("user_id"))).as("reached_click"),
          count_distinct(when(col("t3").isNotNull, col("user_id"))).as("reached_purchase"))
    },
    Some("""WITH s1 AS (SELECT user_id, ts, event_type,
      |    min(CASE WHEN event_type='signup' THEN ts END) OVER (PARTITION BY user_id) AS t1
      |  FROM events),
      |s2 AS (SELECT *, min(CASE WHEN event_type='click' AND ts >= t1 THEN ts END)
      |    OVER (PARTITION BY user_id) AS t2 FROM s1),
      |s3 AS (SELECT *, min(CASE WHEN event_type='purchase' AND ts >= t2 THEN ts END)
      |    OVER (PARTITION BY user_id) AS t3 FROM s2)
      |SELECT count(DISTINCT CASE WHEN t1 IS NOT NULL THEN user_id END) AS reached_signup,
      |  count(DISTINCT CASE WHEN t2 IS NOT NULL THEN user_id END) AS reached_click,
      |  count(DISTINCT CASE WHEN t3 IS NOT NULL THEN user_id END) AS reached_purchase
      |FROM s3""".stripMargin))

  /** Stream-stream interval join run in batch mode (same code path the
    * watermarked streaming spec drives): clicks paired with same-user
    * purchases within the following hour, then attribution counts. The
    * join condition is an equi-key plus a time band, so it hash-partitions
    * on the key — never a cross product.
    */
  val qIntervalJoin = Q("q_interval_join",
    (s, dir) => {
      val e = events(s, dir)
      val clicks = e.filter(col("event_type") === "click").select("user_id", "ts", "event_id")
      val buys = e.filter(col("event_type") === "purchase").select("user_id", "ts")
      graft.streaming.EventTimeOps.intervalJoin(clicks, buys, "user_id", "ts", "ts",
          before = "0 seconds", after = "1 hour", lateness = "0 seconds")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
          count_distinct(col("event_id")).as("n_converted_clicks"))
    },
    Some("""WITH c AS (SELECT user_id, ts, event_id FROM events WHERE event_type='click'),
      |p AS (SELECT user_id, ts FROM events WHERE event_type='purchase')
      |SELECT c.user_id, count(*) AS n_pairs,
      |  count(DISTINCT c.event_id) AS n_converted_clicks
      |FROM c JOIN p ON c.user_id = p.user_id
      |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
      |GROUP BY 1""".stripMargin))

  /** Histogram: fixed-width value binning with per-bin counts and exact
    * decimal sums — one partial-aggregated shuffle on the bin key.
    */
  /** Retention cohorts — the classic product-analytics rollup: users are
    * cohorted by the epoch-week of their first event; each later active
    * week counts them at `week_offset = weeks since cohort`. Two hash
    * aggregations (distinct user-weeks, then the cohort rollup); the
    * week index is integer `epoch_us div (7 days)`, so the whole plan is
    * codegen'd integer work with no calendar functions in the hot path.
    */
  val qRetentionCohort = Q("q_retention_cohort",
    (s, dir) => {
      // `div`, not `/`: Column `/` on longs is DOUBLE division, and a
      // correctly-rounded quotient can floor across an integer boundary;
      // integer div matches DuckDB's `//` exactly
      val wk = expr("unix_micros(ts) div 604800000000").cast("long")
      // cohort week via a per-user window, not groupBy + self-join: the
      // distinct (user, wk) relation fed BOTH the cohort aggregate and
      // the join probe, so the scan + distinct subtree executed twice
      // (round 11, guide §1.2). min-over-user-partition yields the same
      // cohort_wk with one scan and one fewer exchange; the window key
      // is the same user_id the join shuffled by, so skew is unchanged.
      val m = events(s, dir).select(col("user_id"), wk.as("wk")).distinct()
      m.withColumn("cohort_wk",
          min("wk").over(Window.partitionBy("user_id")))
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
        .agg(count_distinct(col("user_id")).as("n_users"))
    },
    Some("""WITH m AS (SELECT DISTINCT user_id,
      |    (epoch_us(ts) // 604800000000) AS wk FROM events),
      |f AS (SELECT user_id, min(wk) AS cohort_wk FROM m GROUP BY user_id)
      |SELECT cohort_wk, (wk - cohort_wk) AS week_offset,
      |       count(DISTINCT m.user_id) AS n_users
      |FROM m JOIN f USING (user_id)
      |GROUP BY cohort_wk, week_offset""".stripMargin))

  /** Event-transition matrix — per-user next-event pairs via lead(), the
    * Markov-chain / behavior-modeling primitive. One key-partitioned
    * window (ties broken by event_id for determinism) feeding a hash
    * aggregation over the tiny (type, next) domain — the corpus-scale
    * work is the single user shuffle.
    */
  val qEventTransitions = Q("q_event_transitions",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      events(s, dir).select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("next_type", lead("event_type", 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy("event_type", "next_type")
        .agg(count(lit(1)).as("n"))
    },
    Some("""WITH nx AS (SELECT event_type,
      |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      |  FROM events)
      |SELECT event_type, next_type, count(*) AS n
      |FROM nx WHERE next_type IS NOT NULL
      |GROUP BY event_type, next_type""".stripMargin))

  /** Time-series regularization ([[graft.operators.TimeSeries
    * .resampleWithFill]]): the irregular event log resampled to a dense
    * per-user daily grid — silent days appear with zero counts and the
    * last observed day-max carried forward. One pass over the raw events
    * (the grain aggregation); grid generation and forward fill run on the
    * aggregated series, bounded by users × calendar span. Aggregates are
    * chosen engine-exact (count, max) — no float summation-order drift.
    */
  val tsGapFill = Q("ts_gap_fill",
    (s, dir) => {
      graft.operators.TimeSeries.resampleWithFill(
        events(s, dir), "user_id", "ts", "day",
        aggs = Seq(count(lit(1)).cast("long").as("n"), max("value").as("vmax")),
        fillCols = Seq("vmax"))
        .select(col("user_id"), to_date(col("bucket")).as("day"),
          coalesce(col("n"), lit(0L)).as("n"), col("observed"),
          col("vmax_ffill"))
    },
    Some("""WITH b AS (SELECT user_id, date_trunc('day', ts) AS bucket,
      |    count(*)::BIGINT AS n, max(value) AS vmax
      |  FROM events GROUP BY 1, 2),
      |s AS (SELECT user_id, min(bucket) AS lo, max(bucket) AS hi FROM b GROUP BY 1),
      |g AS (SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS bucket FROM s)
      |SELECT g.user_id, g.bucket::DATE AS day,
      |  coalesce(b.n, 0)::BIGINT AS n,
      |  b.bucket IS NOT NULL AS observed,
      |  last_value(b.vmax IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.bucket
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vmax_ffill
      |FROM g LEFT JOIN b ON g.user_id = b.user_id AND g.bucket = b.bucket""".stripMargin))

  /** Event debounce — the stream-hygiene filter a metrics pipeline runs
    * before sessionization: per (user, event_type), drop events arriving
    * within 60 s of the previous one (duplicate clicks, retry storms).
    * One key-local window shuffle; the survivors keep their original
    * columns. Tie order pinned by event_id, like every event-log query.
    */
  val qDebounce = Q("q_debounce",
    (s, dir) => {
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .withColumn("__gap_us",
          unix_micros(col("ts")) - unix_micros(lag("ts", 1).over(w)))
        .filter(col("__gap_us").isNull || col("__gap_us") >= 60000000L)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"))
    },
    Some("""WITH g AS (SELECT user_id, event_id, event_type, value,
      |    epoch_us(ts) - epoch_us(lag(ts, 1) OVER (
      |      PARTITION BY user_id, event_type ORDER BY ts, event_id)) AS gap_us
      |  FROM events)
      |SELECT user_id, event_id, event_type, value
      |FROM g WHERE gap_us IS NULL OR gap_us >= 60000000""".stripMargin))

  /** Rolling 7-day window OVER THE GAP-FILLED GRID — the composition the
    * dense time axis exists for: a ROWS-frame over calendar days is only
    * a true 7-DAY window when silent days are present as zero rows
    * (on the raw irregular events the same frame would span whatever 7
    * rows happen to exist). Engine-exact aggregates (counts, max).
    */
  val tsRolling7d = Q("ts_rolling_7d",
    (s, dir) => {
      val grid = graft.operators.TimeSeries.resampleWithFill(
        events(s, dir), "user_id", "ts", "day",
        aggs = Seq(count(lit(1)).cast("long").as("n"), max("value").as("vmax")),
        fillCols = Seq.empty)
        .select(col("user_id"), to_date(col("bucket")).as("day"),
          coalesce(col("n"), lit(0L)).as("n"), col("vmax"))
      val w = Window.partitionBy("user_id").orderBy("day").rowsBetween(-6, 0)
      grid.select(col("user_id"), col("day"),
        sum("n").over(w).as("n_7d"),
        max("vmax").over(w).as("vmax_7d"),
        count(lit(1)).over(w).cast("long").as("days_in_frame"))
    },
    Some("""WITH b AS (SELECT user_id, date_trunc('day', ts) AS bucket,
      |    count(*)::BIGINT AS n, max(value) AS vmax
      |  FROM events GROUP BY 1, 2),
      |s AS (SELECT user_id, min(bucket) AS lo, max(bucket) AS hi FROM b GROUP BY 1),
      |g AS (SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS bucket FROM s),
      |grid AS (SELECT g.user_id, g.bucket::DATE AS day,
      |    coalesce(b.n, 0)::BIGINT AS n, b.vmax
      |  FROM g LEFT JOIN b ON g.user_id = b.user_id AND g.bucket = b.bucket)
      |SELECT user_id, day,
      |  (sum(n) OVER w)::BIGINT AS n_7d,
      |  max(vmax) OVER w AS vmax_7d,
      |  count(*) OVER w AS days_in_frame
      |FROM grid
      |WINDOW w AS (PARTITION BY user_id ORDER BY day
      |  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin))

  /** Gaps-and-islands ([[graft.operators.TimeSeries.activityIslands]]):
    * each user's consecutive active days collapsed into maximal runs via
    * the ordinal-minus-row-number grouping key — streak/churn detection
    * over an event log in two key-local shuffles, the raw scan aggregated
    * away in the first.
    */
  val qGapIslands = Q("q_gap_islands",
    (s, dir) => graft.operators.TimeSeries
      .activityIslands(events(s, dir), "user_id", "ts"),
    Some("""WITH a AS (SELECT DISTINCT user_id, date_trunc('day', ts)::DATE AS day FROM events),
      |r AS (SELECT user_id, day,
      |      date_diff('day', DATE '1970-01-01', day)
      |        - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
      |      FROM a)
      |SELECT user_id, min(day) AS island_start, max(day) AS island_end,
      |  count(*)::BIGINT AS days
      |FROM r GROUP BY user_id, grp""".stripMargin))

  /** Large-scale interval-overlap join via time-bin quantization
    * ([[graft.operators.IntervalJoin.binnedOverlap]]): derived closed
    * intervals on two halves of the events table, equi-joined on
    * (key, bin) with canonical-bin dedup — the plan is a shuffled
    * equi-join; the oracle is the naive overlap predicate DuckDB can
    * brute-force at this SF.
    */
  val qOverlapJoinBinned = Q("q_overlap_join_binned",
    (s, dir) => {
      val ev = events(s, dir).select(col("event_id"),
        (col("user_id") % 50).as("k"),
        unix_micros(col("ts")).as("s"))
        .withColumn("e", col("s") + (col("event_id") % 900 + 100) * 1000000L)
      val left = ev.filter(col("event_id") % 2 === 0)
      val right = ev.filter(col("event_id") % 2 === 1)
      graft.operators.IntervalJoin.binnedOverlap(left, right, Seq("k"), "s", "e",
        binWidth = 1000000000L)
        .select(col("l_event_id"), col("r_event_id"), col("l_k").as("k"))
    },
    Some("""WITH ev AS (SELECT event_id, user_id % 50 AS k, epoch_us(ts) AS s,
      |    epoch_us(ts) + (event_id % 900 + 100) * 1000000 AS e FROM events),
      |l AS (SELECT * FROM ev WHERE event_id % 2 = 0),
      |r AS (SELECT * FROM ev WHERE event_id % 2 = 1)
      |SELECT l.event_id AS l_event_id, r.event_id AS r_event_id, l.k AS k
      |FROM l JOIN r ON l.k = r.k AND l.s <= r.e AND r.s <= l.e""".stripMargin))

  /** Ranking-function family over a per-user event ordering: dense_rank,
    * ntile quartiles, percent_rank, cume_dist — integer-position
    * arithmetic on a tie-free ordering, so both engines agree exactly
    * (percent_rank/cume_dist are single exact divisions).
    */
  val qRankFunctions = Q("q_rank_functions",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      events(s, dir).select(col("user_id"), col("event_id"), col("ts"))
        .withColumn("rnk", dense_rank().over(w).cast("long"))
        .withColumn("q4", ntile(4).over(w).cast("long"))
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
        .drop("ts")
    },
    Some("""SELECT user_id, event_id,
      |  dense_rank() OVER w AS rnk,
      |  ntile(4) OVER w AS q4,
      |  percent_rank() OVER w AS pr,
      |  cume_dist() OVER w AS cd
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin))

  val qHistogram = Q("q_histogram",
    (s, dir) => events(s, dir)
      .withColumn("bin", floor(col("value") / 50).cast("long"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("decimal(38,2)").cast("double").as("sum_value")),
    Some("""SELECT floor(value / 50)::BIGINT AS bin, count(*) AS n,
      |  (sum(value::DECIMAL(18,2))::DECIMAL(38,2))::DOUBLE AS sum_value
      |FROM events GROUP BY 1""".stripMargin))

  // --------------------------------------------------------- text analysis

  /** DuckDB replay of [[TextFunctions.qualityScoreFromTokens]] over a CTE
    * exposing (text, tk) — shared by text_stats and pipeline_curation so
    * the two oracles cannot drift apart.
    */
  private val duckQuality =
    """round(
      |    (CASE WHEN len(tk) BETWEEN 10 AND 5000 THEN 0.25 ELSE 0 END) +
      |    (CASE WHEN (CASE WHEN len(tk)=0 THEN 0 ELSE len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is','it','that','for'))) / len(tk) END) > 0.01 THEN 0.25 ELSE 0 END) +
      |    (CASE WHEN (CASE WHEN length(text)=0 THEN 0 ELSE len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) / length(text) END) < 0.2 THEN 0.25 ELSE 0 END) +
      |    (CASE WHEN (CASE WHEN len(tk)=0 THEN 0 ELSE list_sum(list_transform(tk, x -> len(x))) / len(tk) END) BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0 END)
      |  , 2)::DOUBLE""".stripMargin

  val textStats = Q("text_stats",
    (s, dir) => t(s, dir, "documents")
      // tokenize ONCE into an attribute; every metric below reuses it
      .select(col("doc_id"), col("text"), TextFunctions.tokens(col("text")).as("tk"))
      .select(
        col("doc_id"),
        size(col("tk")).cast("long").as("n_tokens"),
        TextFunctions.bpeishTokenCount(col("text")).cast("long").as("n_bpeish"),
        round(TextFunctions.punctRatio(col("text")), 6).as("punct_ratio"),
        round(TextFunctions.meanWordLengthFromTokens(col("tk")), 6).as("mean_word_len"),
        TextFunctions.qualityScoreFromTokens(col("text"), col("tk")).as("quality")),
    Some(s"""WITH toks AS (SELECT doc_id, text,
      |    list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS tk
      |  FROM documents)
      |SELECT doc_id,
      |  len(tk)::BIGINT AS n_tokens,
      |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS n_bpeish,
      |  round(CASE WHEN length(text)=0 THEN 0
      |    ELSE len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) / length(text) END, 6) AS punct_ratio,
      |  round(CASE WHEN len(tk)=0 THEN 0
      |    ELSE list_sum(list_transform(tk, x -> len(x))) / len(tk) END, 6) AS mean_word_len,
      |  $duckQuality AS quality
      |FROM toks""".stripMargin))

  val textLangId = Q("text_langid",
    (s, dir) => TextFunctions.langIdByJoin(t(s, dir, "documents"), "text", "doc_id")
      .groupBy("lang_pred").agg(count(lit(1)).as("n")),
    Some {
      val langs = TextFunctions.stopwords.toSeq.sortBy(_._1)
      val hitExprs = langs.map { case (l, ws) =>
        s"len(list_filter(tk, x -> x IN (${ws.map(w => s"'$w'").mkString(",")}))) AS hits_$l"
      }.mkString(", ")
      // same left-fold argmax as the Spark side: later lang wins only on
      // strictly greater hits
      val fold = langs.map(_._1).foldLeft(("''", "-1")) { case ((langAcc, hitAcc), l) =>
        (s"(CASE WHEN hits_$l > $hitAcc THEN '$l' ELSE $langAcc END)",
          s"greatest(hits_$l, $hitAcc)")
      }
      s"""WITH toks AS (SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS tk
         |  FROM documents),
         |h AS (SELECT doc_id, $hitExprs FROM toks),
         |p AS (SELECT doc_id, CASE WHEN ${fold._2} = 0 THEN 'und' ELSE ${fold._1} END AS lang_pred FROM h)
         |SELECT lang_pred, count(*) AS n FROM p GROUP BY lang_pred""".stripMargin
    })

  val textFingerprint = Q("text_fingerprint",
    (s, dir) => t(s, dir, "documents")
      .select(col("doc_id"), col("text"), TextFunctions.tokens(col("text")).as("tk"))
      .select(
        col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("fp"),
        TextFunctions.minShingleFingerprintFromTokens(col("tk"), 5).as("shingle_fp")),
    Some(s"""WITH toks AS (SELECT doc_id, text,
      |    list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS tk
      |  FROM documents),
      |th AS (SELECT doc_id, text, tk,
      |    list_transform(tk, t -> ('0x'||substr(md5(t),1,8))::BIGINT) AS th
      |  FROM toks)
      |SELECT doc_id,
      |  md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
      |  CASE WHEN len(tk) < 5 THEN NULL ELSE
      |    list_min([((((th[i]*${MinHashLSH.CombineK} + th[i+1]) % ${MinHashLSH.CombineMod} * ${MinHashLSH.CombineK} + th[i+2]) % ${MinHashLSH.CombineMod} * ${MinHashLSH.CombineK} + th[i+3]) % ${MinHashLSH.CombineMod} * ${MinHashLSH.CombineK} + th[i+4]) % ${MinHashLSH.CombineMod}
      |              for i in range(1, len(th)-3)]) END AS shingle_fp
      |FROM th""".stripMargin))

  /** Gopher/C4-style repetition filter: per-document duplicate token /
    * bigram / trigram fractions plus the keep decision. Map-only — the
    * filter runs in the scan stage at any corpus size. Thresholds sit at
    * ~p90 of this corpus so the flag genuinely splits the data.
    */
  val textRepetition = Q("text_repetition",
    (s, dir) => {
      // tokenize once, hash once: th is a materialized attribute so the
      // three n-gram combines index it instead of re-hashing per offset
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("tk"))
        .select(col("doc_id"), TextFunctions.tokenHashes(col("tk")).as("th"))
        .select(
          col("doc_id"),
          TextFunctions.dupNgramFractionFromHashes(col("th"), 1).as("dup_token_frac"),
          TextFunctions.dupNgramFractionFromHashes(col("th"), 2).as("dup_bigram_frac"),
          TextFunctions.dupNgramFractionFromHashes(col("th"), 3).as("dup_trigram_frac"))
        .withColumn("keep",
          col("dup_bigram_frac") <= 0.05 && col("dup_trigram_frac") <= 0.01)
    },
    Some(s"""WITH toks AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS tk
      |  FROM documents),
      |h AS (SELECT doc_id,
      |    list_transform(tk, t -> ('0x'||substr(md5(t),1,8))::BIGINT) AS th
      |  FROM toks),
      |g AS (SELECT doc_id, th,
      |    CASE WHEN len(th) < 2 THEN [] ELSE
      |      [(th[i]*${MinHashLSH.CombineK} + th[i+1]) % ${MinHashLSH.CombineMod}
      |       for i in range(1, len(th))] END AS bi,
      |    CASE WHEN len(th) < 3 THEN [] ELSE
      |      [((th[i]*${MinHashLSH.CombineK} + th[i+1]) % ${MinHashLSH.CombineMod} * ${MinHashLSH.CombineK} + th[i+2]) % ${MinHashLSH.CombineMod}
      |       for i in range(1, len(th)-1)] END AS tri
      |  FROM h),
      |f AS (SELECT doc_id,
      |    CASE WHEN len(th) = 0 THEN 0.0 ELSE
      |      round(1 - len(list_distinct(th))::DOUBLE / len(th), 6) END AS dup_token_frac,
      |    CASE WHEN len(bi) = 0 THEN 0.0 ELSE
      |      round(1 - len(list_distinct(bi))::DOUBLE / len(bi), 6) END AS dup_bigram_frac,
      |    CASE WHEN len(tri) = 0 THEN 0.0 ELSE
      |      round(1 - len(list_distinct(tri))::DOUBLE / len(tri), 6) END AS dup_trigram_frac
      |  FROM g)
      |SELECT doc_id, dup_token_frac, dup_bigram_frac, dup_trigram_frac,
      |  (dup_bigram_frac <= 0.05 AND dup_trigram_frac <= 0.01) AS keep
      |FROM f""".stripMargin))

  // ----------------------------------------------------- sampling / splits

  /** DuckDB replay of [[Sampling.bucket]]: first 8 md5 hex chars of
    * seed||key as a 32-bit int, mod 10000.
    */
  private def duckBucket(seed: String, key: String) =
    s"(('0x'||substr(md5('$seed'||$key::VARCHAR),1,8))::BIGINT % 10000)"

  /** The end-to-end corpus-curation flow a training-data pipeline actually
    * runs, composed from the library's operators in ONE declarative plan:
    * score every document (quality + repetition + fingerprint, one
    * projection over one scan) → exact dedup to the canonical doc per
    * content fingerprint (the single exchange) → quality/repetition
    * filter → deterministic 50% hash sample.
    *
    * The filter deliberately sits ABOVE the dedup window: pushing it below
    * would substitute the metric aliases into a scan-stage filter that
    * re-derives the tokenize pipeline ~12× per row (FilterExec has no
    * subexpression elimination — measured 22 s vs 2 s at sf0.1, the
    * SCALING.md "inlined filter" cliff). A Window is a pushdown barrier
    * for non-partition-key predicates, so each metric is computed exactly
    * once; the oracle mirrors the same dedup-then-filter order.
    */
  val pipelineCuration = Q("pipeline_curation",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"),
          TextFunctions.tokens(col("text")).as("tk"))
        .withColumn("th", TextFunctions.tokenHashes(col("tk")))
      val scored = docs.select(
        col("doc_id"), col("lang"),
        size(col("tk")).cast("long").as("n_tokens"),
        TextFunctions.qualityScoreFromTokens(col("text"), col("tk")).as("quality"),
        TextFunctions.dupNgramFractionFromHashes(col("th"), 2).as("dup_bigram_frac"),
        TextFunctions.fingerprint(col("text")).as("fp"))
      val canonical = scored.withColumn("__rk",
          row_number().over(Window.partitionBy("fp").orderBy(col("doc_id").asc)))
        .filter(col("__rk") === 1 &&
          col("quality") >= 0.5 && col("dup_bigram_frac") <= 0.05)
        .select("doc_id", "lang", "n_tokens", "quality")
      Sampling.hashSample(canonical, "doc_id", 5000, seed = "cur")
    },
    Some(s"""WITH toks AS (SELECT doc_id, lang, text,
      |    list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS tk
      |  FROM documents),
      |th AS (SELECT *, list_transform(tk, t -> ('0x'||substr(md5(t),1,8))::BIGINT) AS h
      |  FROM toks),
      |scored AS (SELECT doc_id, lang, len(tk)::BIGINT AS n_tokens,
      |    $duckQuality AS quality,
      |    CASE WHEN len(h) < 2 THEN 0.0 ELSE round(1 -
      |      len(list_distinct([(h[i]*${MinHashLSH.CombineK} + h[i+1]) % ${MinHashLSH.CombineMod}
      |                         for i in range(1, len(h))]))::DOUBLE
      |        / (len(h) - 1), 6) END AS dup_bigram_frac,
      |    md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
      |  FROM th),
      |canon AS (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk FROM scored)
      |SELECT doc_id, lang, n_tokens, quality FROM canon
      |WHERE rk = 1 AND quality >= 0.5 AND dup_bigram_frac <= 0.05
      |  AND ${duckBucket("cur", "doc_id")} < 5000""".stripMargin))

  /** Deterministic Bernoulli sample (5%) — content-stable hashing, not
    * rand(): the keep decision is reproducible across runs, engines, and
    * repartitioning. Map-only at any scale.
    */
  val sampleHash = Q("sample_hash",
    (s, dir) => Sampling.hashSample(t(s, dir, "documents"), "doc_id", 500, seed = "r3")
      .select(col("doc_id"), col("lang"), col("n_chars")),
    Some(s"""SELECT doc_id, lang, n_chars FROM documents
      |WHERE ${duckBucket("r3", "doc_id")} < 500""".stripMargin))

  /** Deterministic train/validation/test split: same key ⇒ same split
    * forever (the anti-leakage property). Checked as per-split counts +
    * an exact content sum, so a drifting assignment cannot hash-match.
    */
  val sampleSplit = Q("sample_split",
    (s, dir) => Sampling.assignSplit(t(s, dir, "documents"), "doc_id",
        Seq(("test", 1000), ("validation", 2000)), seed = "r3")
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").cast("long").as("sum_chars")),
    Some(s"""WITH b AS (SELECT n_chars, ${duckBucket("r3", "doc_id")} AS bk FROM documents)
      |SELECT CASE WHEN bk < 1000 THEN 'test' WHEN bk < 2000 THEN 'validation'
      |            ELSE 'train' END AS split,
      |  count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars
      |FROM b GROUP BY 1""".stripMargin))

  /** Leakage-safe split: hash the near-duplicate CLUSTER so members never
    * straddle train/test (per-doc hashing lets a test doc's near-dup train
    * the model). Same per-split aggregate surface as [[sampleSplit]] —
    * any doc re-assigned relative to cluster hashing breaks the sums.
    * See [[graft.sampling.Sampling.assignSplitByCluster]].
    */
  lazy val sampleLeakageSafeSplit = Q("sample_leakage_safe_split", // lazy: refers to dedupMinhashPairs below
    (s, dir) => {
      val clusters = ConnectedComponents
        .components(minhashPairs(s, dir), "id_a", "id_b")
      Sampling.assignSplitByCluster(t(s, dir, "documents"), "doc_id",
          clusters, "id", "cluster",
          Seq(("test", 1000), ("validation", 2000)), seed = "r3")
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").cast("long").as("sum_chars"))
    },
    Some(s"""WITH RECURSIVE pairs AS (SELECT * FROM (${dedupMinhashPairs.oracle.get})),
      |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
      |          UNION SELECT id_b, id_a FROM pairs),
      |nodes AS (SELECT DISTINCT a AS id FROM edges),
      |walk(id, lbl) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT e.a, w.lbl FROM edges e JOIN walk w ON w.id = e.b),
      |clusters AS (SELECT id, min(lbl) AS cluster_id FROM walk GROUP BY id),
      |g AS (SELECT d.n_chars, coalesce(c.cluster_id, d.doc_id) AS grp
      |      FROM documents d LEFT JOIN clusters c ON d.doc_id = c.id),
      |b AS (SELECT n_chars, ${duckBucket("r3", "grp")} AS bk FROM g)
      |SELECT CASE WHEN bk < 1000 THEN 'test' WHEN bk < 2000 THEN 'validation'
      |            ELSE 'train' END AS split,
      |  count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars
      |FROM b GROUP BY 1""".stripMargin))

  /** Budget-bounded corpus cut: longest documents first until a 50k-char
    * budget is spent — the partition-offset running-sum seam, never a
    * single-partition cumsum window. The oracle's window formulation is
    * the semantic definition; the seam must match it row-for-row.
    * See [[graft.sampling.Sampling.takeByBudget]].
    */
  val sampleTokenBudget = Q("sample_token_budget",
    (s, dir) => Sampling.takeByBudget(
      t(s, dir, "documents").select("doc_id", "n_chars"),
      scoreCol = "n_chars", costCol = "n_chars", budget = 50000L, tieCol = "doc_id")
      .select(col("doc_id"), col("n_chars"), col("cum_cost")),
    Some("""SELECT doc_id, n_chars, cum_cost::BIGINT AS cum_cost FROM (
      |  SELECT doc_id, n_chars,
      |    sum(n_chars) OVER (ORDER BY n_chars DESC, doc_id ASC
      |      ROWS UNBOUNDED PRECEDING) AS cum_cost
      |  FROM documents) t
      |WHERE cum_cost <= 50000""".stripMargin))

  /** Fixed-size per-stratum sample (k=20 per language) — the deterministic
    * analogue of per-group reservoir sampling: one shuffle on the stratum
    * key, stable against any input order.
    */
  val sampleStratified = Q("sample_stratified",
    (s, dir) => Sampling.stratifiedFixed(t(s, dir, "documents"),
        Seq("lang"), "doc_id", k = 20, seed = "r3")
      .select(col("lang"), col("doc_id")),
    Some(s"""WITH r AS (SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
      |    ORDER BY ${duckBucket("r3", "doc_id")} ASC, doc_id ASC) AS rk
      |  FROM documents)
      |SELECT lang, doc_id FROM r WHERE rk <= 20""".stripMargin))

  /** Pretraining source mixture: per-source keep rates (the data-mixing
    * weights step), deterministic by content hash. The oracle replays the
    * same CASE-threshold + bucket formula.
    */
  val sampleMixture = Q("sample_mixture", {
    val rates = (0 until 20).map(i => s"src$i" ->
      (if (i < 5) 10000 else if (i < 10) 5000 else if (i < 15) 2500 else 1000)).toMap
    (s, dir) => Sampling.sampleByRates(t(s, dir, "documents"),
        "source", "doc_id", rates, defaultBp = 0, seed = "mix")
      .select(col("doc_id"), col("source"), col("lang"))
  },
    Some {
      val cases = (0 until 20).map(i => s"WHEN source = 'src$i' THEN " +
        (if (i < 5) 10000 else if (i < 10) 5000 else if (i < 15) 2500 else 1000))
        .mkString(" ")
      s"""SELECT doc_id, source, lang FROM documents
         |WHERE ${duckBucket("mix", "doc_id")} < (CASE $cases ELSE 0 END)""".stripMargin
    })

  /** Quality-WEIGHTED deterministic sampling: keep probability scales
    * with a per-row weight (here derived from document length) — the
    * "keep more of the good stuff" retention map. Same content-hash
    * bucket seam as sample_hash, weight applied to the threshold; pure
    * map, no RNG state.
    */
  val sampleWeighted = Q("sample_weighted",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("w", least(lit(2.0), col("n_chars").cast("double") / 250.0))
      Sampling.weightedSample(docs, "doc_id", "w", baseBp = 2000, seed = "wt")
        .select(col("doc_id"), col("source"), col("n_chars"))
    },
    Some(s"""SELECT doc_id, source, n_chars FROM documents
      |WHERE ${duckBucket("wt", "doc_id")} <
      |  least(10000.0, greatest(0.0, least(2.0, n_chars::DOUBLE / 250.0) * 2000))""".stripMargin))

  /** Mixture with UPSAMPLING (epochs per source — the other half of the
    * recipe next to sample_mixture's downsampling): sources repeat by a
    * fractional factor, the fractional epoch resolved per key by the
    * same deterministic bucket; epoch indexes ride along for downstream
    * shuffling. Map-side explode; oracle replays it with
    * range-unnest + the bucket formula.
    */
  val sampleUpsampled = Q("sample_upsampled", {
    val factors = Map("src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.5, "src3" -> 3.0)
    (s, dir) => Sampling.upsampleByFactors(t(s, dir, "documents"),
        "source", "doc_id", factors, defaultFactor = 0.0, seed = "up")
      .select(col("doc_id"), col("source"), col("__epoch").cast("long").as("epoch"))
  },
    Some {
      val fCase = "CASE WHEN source='src0' THEN 2.5 WHEN source='src1' THEN 1.0 " +
        "WHEN source='src2' THEN 0.5 WHEN source='src3' THEN 3.0 ELSE 0.0 END"
      s"""WITH d AS (SELECT doc_id, source,
         |    ($fCase) AS f,
         |    ${duckBucket("up", "doc_id")} AS b FROM documents),
         |r AS (SELECT doc_id, source,
         |    (floor(f)::INT + (CASE WHEN b < (f - floor(f)) * 10000 THEN 1 ELSE 0 END)) AS reps
         |  FROM d)
         |SELECT doc_id, source, unnest(range(1, reps + 1))::BIGINT AS epoch
         |FROM r WHERE reps >= 1""".stripMargin
    })

  /** Temperature (T=0.5) upsampling with DATA-DERIVED factors
    * ([[Sampling.temperatureUpsample]]): every source upsampled toward
    * the largest by sqrt(count_max/count) — the UniMax-style recipe with
    * no hand-written rate table. Factors flow through a broadcast join
    * (no driver collect); sqrt is IEEE-correctly-rounded, so the oracle's
    * recomputation is bit-identical — the reason this variant is exactly
    * checkable while pow-based temperatures are not.
    */
  val sampleTemperature = Q("sample_temperature",
    (s, dir) => Sampling.temperatureUpsample(t(s, dir, "documents"),
        "lang", "doc_id", seed = "temp")
      .select(col("doc_id"), col("lang"), col("__epoch").cast("long").as("epoch")),
    Some(s"""WITH c AS (SELECT lang, count(*) AS gn FROM documents GROUP BY lang),
      |m AS (SELECT max(gn) AS gmax FROM c),
      |f AS (SELECT lang, least(100.0, sqrt(gmax::DOUBLE / gn::DOUBLE)) AS gf FROM c, m),
      |d AS (SELECT doc_id, documents.lang AS lang, gf,
      |    floor(gf)::INT AS whole,
      |    (CASE WHEN ${duckBucket("temp", "doc_id")} < floor((gf - floor(gf)) * 10000)
      |       THEN 1 ELSE 0 END) AS extra
      |  FROM documents JOIN f ON documents.lang = f.lang)
      |SELECT doc_id, lang, unnest(range(1, whole + extra + 1))::BIGINT AS epoch
      |FROM d WHERE whole + extra >= 1""".stripMargin))

  /** Global contiguous example numbering + derived export shards — a
    * range exchange with per-partition offset zip, NEVER a
    * single-partition `row_number() OVER (ORDER BY …)` (the oracle may
    * plan that; 100 TB Spark must not). Shard = 64-row slices of the
    * sequence, the training-export layout.
    */
  val sampleGlobalSeq = Q("sample_global_seq",
    (s, dir) => graft.operators.GlobalOrder
      .withGlobalSeq(t(s, dir, "documents").select(col("doc_id"), col("source")), "doc_id")
      .withColumn("shard", ((col("seq") - 1) / 64).cast("long")),
    Some("""SELECT doc_id, source, row_number() OVER (ORDER BY doc_id) AS seq,
      |  ((row_number() OVER (ORDER BY doc_id)) - 1) // 64 AS shard
      |FROM documents""".stripMargin))

  /** TF-IDF top-3 terms per document: explode → two partial-aggregated
    * shuffles → broadcast corpus size → per-doc top-k window. Integer tf ×
    * ln(exact-int ratio) is bit-identical across IEEE engines.
    */
  val textTfidf = Q("text_tfidf",
    (s, dir) => TextFunctions.tfIdfTopK(t(s, dir, "documents"), "doc_id", "text", k = 3),
    Some("""WITH tok AS (SELECT doc_id, t AS term FROM (
      |    SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS t
      |    FROM documents) WHERE t <> ''),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
      |dfreq AS (SELECT term, count(*)::DOUBLE AS dfreq FROM tf GROUP BY 1),
      |n AS (SELECT count(DISTINCT doc_id)::DOUBLE AS n_docs FROM documents),
      |scored AS (SELECT doc_id, tf.term, round(tf * ln(n.n_docs / dfreq), 6) AS tfidf
      |  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n),
      |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
      |    ORDER BY tfidf DESC, term ASC) AS rk FROM scored)
      |SELECT doc_id, term, tfidf FROM r WHERE rk <= 3""".stripMargin))

  /** BM25 corpus search for a fixed 3-term query, top-25 — per-term
    * contributions rounded then summed as exact DECIMAL so score and
    * ranking are bit-deterministic in both engines (double summation
    * order is not). See [[graft.text.TextFunctions.bm25Rank]].
    */
  val textBm25 = Q("text_bm25",
    (s, dir) => TextFunctions.bm25Rank(t(s, dir, "documents"), "doc_id", "text",
      Seq("spark", "merge", "window"), topK = 25)
      .select(col("doc_id"), col("score"), col("rank")),
    Some("""WITH tok AS (SELECT doc_id, t AS term FROM (
      |    SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS t
      |    FROM documents) WHERE t IN ('spark','merge','window')),
      |dl AS (SELECT doc_id, len(list_filter(string_split_regex(lower(coalesce(text,'')), '\s+'),
      |    x -> len(x) > 0)) AS dl FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
      |dfreq AS (SELECT term, count(*)::DOUBLE AS dfreq FROM tf GROUP BY 1),
      |st AS (SELECT count(*)::DOUBLE AS n_docs,
      |    avg(len(list_filter(string_split_regex(lower(coalesce(text,'')), '\s+'),
      |      x -> len(x) > 0))) AS avgdl FROM documents),
      |contrib AS (SELECT tf.doc_id,
      |    round(ln((n_docs - dfreq + 0.5) / (dfreq + 0.5) + 1.0)
      |      * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)),
      |      6)::DECIMAL(18,6) AS c
      |  FROM tf JOIN dfreq ON tf.term = dfreq.term
      |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st),
      |scored AS (SELECT doc_id, sum(c)::DECIMAL(28,6) AS score
      |  FROM contrib GROUP BY doc_id),
      |r AS (SELECT doc_id, score, row_number() OVER (
      |    ORDER BY score DESC, doc_id ASC) AS rank FROM scored)
      |SELECT doc_id, score::DOUBLE AS score, rank FROM r WHERE rank <= 25""".stripMargin))

  /** The same BM25 search answered from a PERSISTED inverted index
    * ([[graft.text.SearchIndex]]): the corpus is tokenized once into a
    * bucket-partitioned postings table in two incremental waves, then the
    * query plans against only its terms' buckets — and must reproduce
    * text_bm25's scan-everything scores bit for bit (same oracle).
    */
  val textBm25Indexed = Q("text_bm25_indexed",
    (s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft_sidx").toString
      val docs = t(s, dir, "documents")
      val idx = graft.text.SearchIndex.create(s, wh, "corpus", termBuckets = 8)
      idx.addBatch(docs.filter(col("doc_id") % 2 === 0))
      idx.addBatch(docs.filter(col("doc_id") % 2 === 1))
      idx.search(Seq("spark", "merge", "window"), topK = 25)
        .select(col("doc_id"), col("score"), col("rank"))
    },
    textBm25.oracle)

  /** Per-source corpus cap — at most 20 documents per source, best first
    * by (n_chars desc, doc_id asc): the crawl-curation "domain cap" that
    * stops one hot site from dominating the training mix. Runs the
    * skew-safe two-phase selection ([[graft.operators.TopKPerKey]]); the
    * oracle is the naive single window, which the two-phase plan must
    * equal exactly (rank key is total, so the cut is deterministic).
    */
  val pipelineSourceCap = Q("pipeline_source_cap",
    (s, dir) => graft.operators.TopKPerKey.topK(
      t(s, dir, "documents").select("doc_id", "source", "n_chars"),
      Seq("source"), struct((-col("n_chars")).as("negc"), col("doc_id").as("id")), 20),
    Some("""SELECT doc_id, source, n_chars FROM (
      |  SELECT doc_id, source, n_chars, row_number() OVER (
      |    PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS rk
      |  FROM documents) t
      |WHERE rk <= 20""".stripMargin))

  /** CCNet-style trigram LM quality scoring: odd doc_ids are the "clean
    * reference" half that trains the counts model, even doc_ids get
    * scored. The HASHED surface is transcendental-free: `sum_num` /
    * `sum_den` are the per-doc sums of the exact-integer smoothing
    * ratios (kDen·C₃+kNum / kDen·C₂+kNum·V) — they pin the count
    * tables, the joins, and the smoothing arithmetic bit-for-bit.
    * `log_prob`/`avg_logp` (the `ln`-derived columns) are deliberately
    * NOT selected here: `ln` is not correctly-rounded in either engine,
    * so a row landing ulps from a 6-dp rounding boundary flips the hash
    * (observed twice); the monotone log map itself is spec-asserted with
    * tolerance in TextOpsSpec — the agg_sketch_rollup pattern.
    */
  val textLmScore = Q("text_lm_score",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val half = pmod(col("doc_id"), lit(2)) === 1
      TextFunctions.trigramLmScore(docs.where(half), docs.where(!half),
        "doc_id", "text")
        .select(col("doc_id"), col("n_trigrams"), col("sum_num"), col("sum_den"))
    },
    Some("""WITH toks AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS tk
      |  FROM documents),
      |mt AS (SELECT tk FROM toks WHERE doc_id % 2 = 1),
      |c3 AS (SELECT g, count(*) AS c3 FROM (
      |    SELECT unnest([array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk)-1)]) AS g
      |    FROM mt WHERE len(tk) >= 3) GROUP BY g),
      |c2 AS (SELECT p, count(*) AS c2 FROM (
      |    SELECT unnest([array_to_string(tk[i:i+1], ' ') for i in range(1, len(tk))]) AS p
      |    FROM mt WHERE len(tk) >= 2) GROUP BY p),
      |v AS (SELECT count(DISTINCT t)::BIGINT AS v FROM (SELECT unnest(tk) AS t FROM mt)),
      |sg AS (SELECT doc_id,
      |    unnest([array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk)-1)]) AS g
      |  FROM toks WHERE doc_id % 2 = 0 AND len(tk) >= 3),
      |lp AS (SELECT doc_id,
      |    (2 * coalesce(c3.c3, 0) + 1)::BIGINT AS nm,
      |    (2 * coalesce(c2.c2, 0) + v.v)::BIGINT AS dn
      |  FROM sg
      |  LEFT JOIN c3 USING (g)
      |  LEFT JOIN c2 ON c2.p = array_to_string(string_split(g, ' ')[1:2], ' ')
      |  CROSS JOIN v)
      |SELECT doc_id, count(*)::BIGINT AS n_trigrams,
      |  sum(nm)::BIGINT AS sum_num, sum(dn)::BIGINT AS sum_den
      |FROM lp GROUP BY doc_id""".stripMargin))

  /** Shared HTML page template for [[textHtmlExtract]] — the Spark and
    * DuckDB sides wrap each document's text in the same markup (scripts,
    * styles, comments, entities incl. a double-encoded one, block
    * structure), so the oracle checks the full extraction chain
    * character-for-character.
    */
  private val HtmlPagePrefix = "<html><head><title>Ignore Me</title>" +
    "<style>p { color: #333; }</style></head><body>" +
    "<script type=\"text/javascript\">if (1<2) { go(\"x&y\"); }</script>" +
    "<div id=\"nav\">Home &amp;&nbsp;More&nbsp;&amp;lt;escaped&amp;gt;</div><h1>Doc </h1><p>"
  private val HtmlPageSuffix = "</p><!-- hidden comment --><ul><li>One</li>" +
    "<li>Two</li></ul><p>&quot;q&quot; &lt;b&gt; &#39;s&#39;</p><br>" +
    "<table><tr><td>cell</td></tr></table></body></html>"

  private def htmlExtractOracleExpr(input: String): String = {
    def esc(s: String) = s.replace("'", "''")
    TextFunctions.HtmlExtractSteps.foldLeft(input) { case (acc, (p, r)) =>
      val rep = r match {
        case "\n"   => "chr(10)"
        case "\n\n" => "chr(10)||chr(10)"
        case other  => s"'${esc(other)}'"
      }
      s"regexp_replace($acc, '${esc(p)}', $rep, 'g')"
    }
  }

  /** HTML → text extraction ([[TextFunctions.htmlToText]]) — the
    * crawl-to-corpus step: scripts/styles/comments die with their
    * payloads, block boundaries become newlines, tags strip, entities
    * decode (&amp; last — double-encoding survives encoded), whitespace
    * normalizes. One RE2-portable regexp chain, map-only; DuckDB replays
    * the very same step list via [[TextFunctions.HtmlExtractSteps]].
    */
  val textHtmlExtract = Q("text_html_extract",
    (s, dir) => {
      val page = concat(lit(HtmlPagePrefix), col("text"), lit(HtmlPageSuffix))
      t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.htmlToText(page).as("body_text"))
        .withColumn("n_chars_out", length(col("body_text")).cast("long"))
    },
    Some(s"""SELECT doc_id,
      |  ${htmlExtractOracleExpr(
             s"'${HtmlPagePrefix.replace("'", "''")}' || text || '${HtmlPageSuffix.replace("'", "''")}'")} AS body_text,
      |  length(${htmlExtractOracleExpr(
             s"'${HtmlPagePrefix.replace("'", "''")}' || text || '${HtmlPageSuffix.replace("'", "''")}'")})::BIGINT AS n_chars_out
      |FROM documents""".stripMargin))

  /** C4/RefinedWeb line-level boilerplate removal ([[graft.dedup
    * .LineDedup]]): documents are augmented with per-source menu/footer
    * lines (each source spans many docs, so those lines cross the
    * document-frequency threshold), then every line appearing in ≥3
    * distinct docs is dropped from ALL of them — no canonical survivor,
    * unlike span dedup. Empty lines are structural and survive. The
    * oracle replays the explode → distinct-doc frequency → threshold →
    * re-assembly pipeline line-for-line.
    */
  val dedupLines = Q("dedup_lines",
    (s, dir) => {
      val ml = t(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n",
          concat(lit("Menu Home About "), col("source")),
          col("text"),
          lit(""),
          concat(lit("(c) 2024 "), col("source"))).as("ml"))
      graft.dedup.LineDedup.removeBoilerplateLines(ml, "doc_id", "ml", minDocs = 3)
    },
    Some("""WITH ml AS (SELECT doc_id,
      |    concat_ws(chr(10), 'Menu Home About ' || source, text, '',
      |      '(c) 2024 ' || source) AS ml FROM documents),
      |lines AS (SELECT doc_id,
      |    unnest([struct_pack(pos := i-1, line := l[i])
      |            for i in range(1, len(l)+1)], recursive := true)
      |  FROM (SELECT doc_id, string_split(ml, chr(10)) AS l FROM ml)),
      |keyed AS (SELECT doc_id, pos, line, trim(line) AS key FROM lines),
      |boiler AS (SELECT key FROM keyed WHERE len(key) > 0
      |  GROUP BY key HAVING count(DISTINCT doc_id) >= 3),
      |flagged AS (SELECT k.doc_id, k.pos, k.line, b.key IS NULL AS keep
      |  FROM keyed k LEFT JOIN boiler b ON k.key = b.key)
      |SELECT doc_id, count(*)::BIGINT AS n_lines,
      |  sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
      |  coalesce(array_to_string(list_transform(
      |    list_sort(list(struct_pack(pos := pos, line := line)) FILTER (WHERE keep)),
      |    x -> x.line), chr(10)), '') AS clean_text
      |FROM flagged GROUP BY doc_id""".stripMargin))

  /** Hashing-trick linear classifier scoring (FineWeb-Edu / DCLM model-
    * based filtering) under the oracle: weights are the closed-form
    * integer-valued vector w[j] = (j·7 mod 41) − 20 over 4096 buckets,
    * so DuckDB reproduces the bucket weights arithmetically from the
    * same md5 feature hashes, the weight sum is integer-exact, and the
    * sigmoid's input is a single IEEE division of exact values. The
    * HASHED surface is `(n_feats, w_sum)` only — the full feature
    * pipeline (tokenize, bigrams, md5 bucketing, weight fold) is pinned
    * bit-for-bit by `w_sum`; the sigmoid `score` is deliberately NOT
    * selected: `exp` is not correctly-rounded in either engine and a
    * pre-rounding value ulps from a 6-dp boundary flips the hash
    * (observed round 5). The monotone sigmoid map is spec-asserted with
    * tolerance — the agg_sketch_rollup pattern.
    */
  val textClassifierScore = Q("text_classifier_score",
    (s, dir) => {
      val w = Array.tabulate(4096)(j => ((j * 7) % 41 - 20).toDouble)
      TextFunctions.hashedClassifierScore(
        t(s, dir, "documents"), "doc_id", "text", w, bias = 0.125)
        .select(col("doc_id"), col("n_feats"), col("w_sum").cast("long").as("w_sum"))
    },
    Some("""WITH toks AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS tk
      |  FROM documents),
      |feats AS (SELECT doc_id,
      |    list_transform(tk, t -> ('0x'||substr(md5(t),1,8))::BIGINT) ||
      |    list_transform([array_to_string(tk[i:i+1], ' ') for i in range(1, len(tk))],
      |      t -> ('0x'||substr(md5(t),1,8))::BIGINT) AS fh
      |  FROM toks)
      |SELECT doc_id, len(fh)::BIGINT AS n_feats,
      |  coalesce(list_sum(list_transform(fh,
      |    h -> ((h % 4096) * 7) % 41 - 20)), 0)::BIGINT AS w_sum
      |FROM feats""".stripMargin))

  /** Unicode canonicalization ([[graft.functions.TextNormalize]] — native
    * codegen expression; Spark has no built-in): decompose each 'a' into
    * 'a' + U+0301 (combining acute), then (1) NFC re-composes to 'á' and
    * (2) STRIP_ACCENTS recovers the original text — the round-trip every
    * dedup pipeline runs before hashing, checked against DuckDB's
    * `nfc_normalize`/`strip_accents` (identical utf8proc/JDK semantics).
    * Map-only; the ASCII fast path makes it ~free on web-corpus data.
    */
  val textNormalize = Q("text_normalize",
    (s, dir) => {
      val dec = regexp_replace(col("text"), "a", "a\u0301") // decomposed: a + combining acute
      t(s, dir, "documents")
        .select(col("doc_id"),
          substring(TextFunctions.normalize(dec, "NFC"), 1, 50).as("nfc_prefix"),
          length(TextFunctions.normalize(dec, "NFC")).cast("long").as("nfc_len"),
          length(dec).cast("long").as("dec_len"),
          (TextFunctions.normalize(dec, "STRIP_ACCENTS") === col("text")).as("roundtrip"))
    },
    Some("""WITH d AS (SELECT doc_id, text,
      |    replace(text, 'a', 'a' || chr(769)) AS dec FROM documents)
      |SELECT doc_id,
      |  substr(nfc_normalize(dec), 1, 50) AS nfc_prefix,
      |  length(nfc_normalize(dec))::BIGINT AS nfc_len,
      |  length(dec)::BIGINT AS dec_len,
      |  (strip_accents(dec) = text) AS roundtrip
      |FROM d""".stripMargin))

  /** Context-window chunking (64-token windows, 8-token overlap): one
    * row per chunk with its index, length, and content fingerprint —
    * the map-only explode that feeds embedding/pretraining ingestion.
    */
  val textChunk = Q("text_chunk",
    (s, dir) => {
      val step = 64 - 8
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("tk"))
        .where(size(col("tk")) > 0)
        .select(col("doc_id"),
          explode(TextFunctions.tokenChunks(col("tk"), 64, 8)).as("ch"))
        .select(col("doc_id"),
          ((col("ch.s") - 1) / step).cast("long").as("chunk_idx"),
          size(col("ch.ctoks")).cast("long").as("chunk_tokens"),
          md5(concat_ws(" ", col("ch.ctoks"))).as("chunk_fp"))
    },
    Some("""WITH toks AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS tk
      |  FROM documents),
      |c AS (SELECT doc_id,
      |    [struct_pack(s := st, ctoks := tk[st:st+63])
      |     for st in range(1, greatest(len(tk), 1) + 1, 56)] AS chunks
      |  FROM toks WHERE len(tk) > 0),
      |u AS (SELECT doc_id, unnest(chunks, recursive := true) FROM c)
      |SELECT doc_id, ((s - 1) // 56)::BIGINT AS chunk_idx,
      |  len(ctoks)::BIGINT AS chunk_tokens,
      |  md5(array_to_string(ctoks, ' ')) AS chunk_fp
      |FROM u""".stripMargin))

  /** PII scrubbing over one scan: count then redact emails / IPv4s / phone
    * numbers (map-only — the shape that has to survive 100 TB). The
    * synthetic corpus carries no PII, so both engines inject the same
    * deterministic contact block per doc before scrubbing; the redacted
    * text is compared as md5 to keep the result compact.
    */
  val textPiiRedact = Q("text_pii_redact",
    (s, dir) => {
      val aug = concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com or 10."),
        pmod(col("doc_id"), lit(256)), lit(".0.1 or +1-555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
      t(s, dir, "documents")
        .select(col("doc_id"), aug.as("t"))
        .select(
          col("doc_id"),
          TextFunctions.piiCount(col("t"), TextFunctions.EmailPattern).as("n_emails"),
          TextFunctions.piiCount(col("t"), TextFunctions.Ipv4Pattern).as("n_ips"),
          TextFunctions.piiCount(col("t"), TextFunctions.PhonePattern).as("n_phones"),
          md5(TextFunctions.redactPii(col("t"))).as("redacted_fp"))
    },
    Some(s"""WITH aug AS (SELECT doc_id,
      |    text || ' contact user' || doc_id::VARCHAR || '@example.com or 10.'
      |         || (doc_id % 256)::VARCHAR || '.0.1 or +1-555-'
      |         || lpad((doc_id % 10000)::VARCHAR, 4, '0') AS t
      |  FROM documents)
      |SELECT doc_id,
      |  len(regexp_extract_all(t, '${TextFunctions.EmailPattern}'))::BIGINT AS n_emails,
      |  len(regexp_extract_all(t, '${TextFunctions.Ipv4Pattern}'))::BIGINT AS n_ips,
      |  len(regexp_extract_all(t, '${TextFunctions.PhonePattern}'))::BIGINT AS n_phones,
      |  md5(regexp_replace(regexp_replace(regexp_replace(t,
      |    '${TextFunctions.EmailPattern}', '<EMAIL>', 'g'),
      |    '${TextFunctions.Ipv4Pattern}', '<IP>', 'g'),
      |    '${TextFunctions.PhonePattern}', '<PHONE>', 'g')) AS redacted_fp
      |FROM aug""".stripMargin))

  /** Quantile-threshold quality filter in scale-safe histogram form: keep
    * the docs whose quality score clears the highest threshold retaining
    * ≥60% of the corpus — histogram aggregate + tiny cumulative window +
    * broadcast threshold, never a global percent_rank sort. Routed
    * through [[Sampling.keepTopFractionAuto]]: an NDV probe keeps the
    * exact histogram while the score stays discrete (it is here — the
    * oracle replays that path) and switches to the bin-bounded variant
    * when a corpus makes the score near-continuous, where the exact
    * variant's distinct-value window would become a corpus-sized
    * single-reducer sort (the measured 10×-soak frailty).
    */
  val textQualityFilter = Q("text_quality_filter",
    (s, dir) => {
      val scored = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), TextFunctions.tokens(col("text")).as("tk"))
        .select(col("doc_id"),
          TextFunctions.qualityScoreFromTokens(col("text"), col("tk")).as("quality"))
      Sampling.keepTopFractionAuto(scored, "quality", 0.6, bins = 4096)
    },
    Some(s"""WITH toks AS (SELECT doc_id, text,
      |    list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS tk
      |  FROM documents),
      |scored AS (SELECT doc_id, $duckQuality AS quality FROM toks),
      |hist AS (SELECT quality, count(*) AS n FROM scored GROUP BY 1),
      |c AS (SELECT quality,
      |    sum(n) OVER (ORDER BY quality DESC ROWS UNBOUNDED PRECEDING) AS cum,
      |    sum(n) OVER () AS tot
      |  FROM hist),
      |thr AS (SELECT max(quality) AS t FROM c WHERE cum >= ceil(tot * 0.6))
      |SELECT doc_id, quality FROM scored, thr WHERE quality >= thr.t""".stripMargin))

  /** [[Sampling.keepTopFractionBinned]] under the oracle: a CONTINUOUS
    * score (distinct per doc) would make the exact histogram corpus-sized
    * and its cumulative window a single-reducer corpus sort — the binned
    * variant quantizes into 256 fixed-width buckets first, so histogram
    * and window stay bounded at any corpus size. DuckDB replays the
    * min/max, quantization, cumulative-from-top threshold and filter;
    * every float op is a single IEEE expression on identical inputs, so
    * the kept set and scores hash-match exactly.
    */
  val sampleTopFracBinned = Q("sample_top_frac_binned",
    (s, dir) => {
      val scored = t(s, dir, "documents").select(col("doc_id"),
        (col("n_chars").cast("double") / (pmod(col("doc_id"), lit(97)) + lit(1))).as("score"))
      Sampling.keepTopFractionBinned(scored, "score", 0.3, bins = 256)
    },
    Some("""WITH scored AS (SELECT doc_id,
      |    n_chars::DOUBLE / (doc_id % 97 + 1) AS score FROM documents),
      |mm AS (SELECT min(score) AS mn, max(score) AS mx FROM scored),
      |b AS (SELECT doc_id, score,
      |    CASE WHEN mx = mn THEN 0
      |      ELSE least(255, floor((score - mn) / ((mx - mn) / 256))::INT) END AS bin
      |  FROM scored, mm),
      |hist AS (SELECT bin, count(*) AS n FROM b GROUP BY 1),
      |c AS (SELECT bin,
      |    sum(n) OVER (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING) AS cum,
      |    sum(n) OVER () AS tot
      |  FROM hist),
      |thr AS (SELECT max(bin) AS t FROM c WHERE cum >= ceil(tot * 0.3))
      |SELECT doc_id, score FROM b, thr WHERE bin >= thr.t""".stripMargin))

  /** Sequence packing: documents laid out in deterministic hash order per
    * source, cut into 512-token context windows; a doc's bin is the
    * window its first token lands in. One shuffle on the group key.
    */
  val pipelinePacking = Q("pipeline_packing",
    (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      Sampling.packBins(docs, "source", "doc_id", "n_tokens", capacity = 512, seed = "pk")
        .groupBy("source", "bin")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").cast("long").as("bin_tokens"))
    },
    Some(s"""WITH d AS (SELECT doc_id, source,
      |    len(list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0))::BIGINT AS n_tokens
      |  FROM documents),
      |b AS (SELECT source, n_tokens,
      |    sum(n_tokens) OVER (PARTITION BY source
      |      ORDER BY ${duckBucket("pk", "doc_id")} ASC, doc_id ASC
      |      ROWS UNBOUNDED PRECEDING) - n_tokens AS tok_before
      |  FROM d)
      |SELECT source, floor(tok_before / 512)::BIGINT AS bin,
      |  count(*) AS n_docs, sum(n_tokens)::BIGINT AS bin_tokens
      |FROM b GROUP BY 1, 2""".stripMargin))

  /** DuckDB replay of [[graft.dedup.Shingles.combinedShingleHashes]] for
    * arbitrary n: nested rolling polynomial combine over `th[i..i+n-1]`.
    */
  private def duckCombine(n: Int): String =
    (1 until n).foldLeft("th[i]") { (acc, j) =>
      s"($acc*${MinHashLSH.CombineK} + th[i+$j]) % ${MinHashLSH.CombineMod}"
    }

  /** Eval-set 5-gram decontamination: the benchmark-leakage guard. Eval =
    * every 97th doc; each train doc is flagged iff it shares a word 5-gram
    * with any eval doc. Exploded-gram semi-join against the (small,
    * broadcastable) eval gram set — never all-pairs.
    */
  val pipelineDecontaminate = Q("pipeline_decontaminate",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Decontaminate.contaminationFlags(
        docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(97)) === 0),
        "doc_id", "text", n = 5)
    },
    Some(s"""WITH toks AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS tk
      |  FROM documents),
      |h AS (SELECT doc_id,
      |    list_transform(tk, t -> ('0x'||substr(md5(t),1,8))::BIGINT) AS th
      |  FROM toks),
      |g AS (SELECT doc_id, CASE WHEN len(th) < 5 THEN []
      |    ELSE [${duckCombine(5)} for i in range(1, len(th)-3)] END AS grams
      |  FROM h),
      |ev AS (SELECT DISTINCT unnest(grams) AS gr FROM g WHERE doc_id % 97 = 0),
      |tr AS (SELECT doc_id, grams FROM g WHERE doc_id % 97 <> 0),
      |hit AS (SELECT DISTINCT x.doc_id
      |  FROM (SELECT doc_id, unnest(grams) AS gr FROM tr) x JOIN ev USING (gr))
      |SELECT doc_id, (doc_id IN (SELECT doc_id FROM hit)) AS contaminated
      |FROM tr""".stripMargin))

  /** The triage view behind the decontamination flag: distinct shared
    * 5-grams per contaminated train doc — what a curator reads to pick
    * thresholds and eyeball worst offenders. Same broadcastable eval-gram
    * join as pipeline_decontaminate, one extra distinct+count.
    */
  val pipelineContaminationReport = Q("pipeline_contamination_report",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Decontaminate.contaminationReport(
        docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(97)) === 0),
        "doc_id", "text", n = 5)
    },
    Some(s"""WITH toks AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS tk
      |  FROM documents),
      |h AS (SELECT doc_id,
      |    list_transform(tk, t -> ('0x'||substr(md5(t),1,8))::BIGINT) AS th
      |  FROM toks),
      |g AS (SELECT doc_id, CASE WHEN len(th) < 5 THEN []
      |    ELSE [${duckCombine(5)} for i in range(1, len(th)-3)] END AS grams
      |  FROM h),
      |ev AS (SELECT DISTINCT unnest(grams) AS gr FROM g WHERE doc_id % 97 = 0),
      |tr AS (SELECT DISTINCT doc_id, unnest(grams) AS gr FROM g WHERE doc_id % 97 <> 0)
      |SELECT tr.doc_id, count(*) AS shared_ngrams
      |FROM tr JOIN ev USING (gr) GROUP BY tr.doc_id""".stripMargin))

  /** Vocabulary coverage: per-doc out-of-vocabulary token fraction
    * against the corpus' own top-200 vocabulary (text_vocab's cut) — the
    * tokenizer-fit signal a data pipeline reports per source/shard. The
    * vocabulary is vocabulary-scale and broadcasts; the corpus-side work
    * is the tokenize-explode it already shares with the tf-idf family.
    */
  val textOovRate = Q("text_oov_rate",
    (s, dir) => {
      val terms = t(s, dir, "documents")
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("term"))
      val vocab = terms.groupBy("term")
        .agg(count(lit(1)).as("tf"), count_distinct(col("doc_id")).as("df"))
        .filter(col("df") >= 5)
        .withColumn("rk",
          row_number().over(Window.orderBy(col("tf").desc, col("term").asc)))
        .filter(col("rk") <= 200)
        .select(col("term"), lit(true).as("__in_vocab"))
      terms.join(broadcast(vocab), Seq("term"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("__in_vocab").isNull, 1).otherwise(0)).as("n_oov"))
        .withColumn("oov_rate",
          round(col("n_oov").cast("double") / col("n_tokens"), 6))
    },
    Some("""WITH toks AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS tk
      |  FROM documents),
      |e AS (SELECT doc_id, unnest(tk) AS term FROM toks),
      |c AS (SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df FROM e GROUP BY term),
      |v AS (SELECT term FROM (SELECT term, row_number() OVER
      |    (ORDER BY tf DESC, term ASC) AS rk FROM c WHERE df >= 5) WHERE rk <= 200)
      |SELECT e.doc_id, count(*) AS n_tokens,
      |  sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
      |  round(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS oov_rate
      |FROM e LEFT JOIN v ON e.term = v.term GROUP BY e.doc_id""".stripMargin))

  // ----------------------------------------------------------- dedup family

  /** URL-level dedup behind [[graft.text.UrlOps.canonicalize]]: messy
    * spellings of one page (case drift, default ports, utm tracking
    * params, fragments, trailing slashes) collapse to one canonical key,
    * then a hash groupBy keeps the first sighting and counts the rest —
    * the standard crawl-frontier dedup. The synthetic URL is built
    * deterministically from event columns so the oracle can rebuild the
    * identical input; canonicalization itself is the operator under test
    * (a codegen'd regexp chain, map-only at any scale).
    */
  val dedupUrl = Q("dedup_url",
    (s, dir) => {
      val url = concat(
        lit("HTTPS://Shop-"), (col("user_id") % 10).cast("string"),
        lit(".Example.COM:443/items/"), (col("event_id") % 200).cast("string"),
        lit("/?utm_source=feed&utm_campaign=c"), (col("event_id") % 7).cast("string"),
        lit("&ref="), col("event_type"),
        lit("#sec-"), (col("event_id") % 3).cast("string"))
      events(s, dir).withColumn("url", url)
        .withColumn("curl", graft.text.UrlOps.canonicalize(col("url")))
        .groupBy("curl")
        .agg(min("event_id").as("first_event_id"), count(lit(1)).as("n_dups"))
    },
    Some("""WITH u AS (SELECT event_id,
      |  'HTTPS://Shop-' || (user_id % 10)::VARCHAR || '.Example.COM:443/items/' ||
      |  (event_id % 200)::VARCHAR || '/?utm_source=feed&utm_campaign=c' ||
      |  (event_id % 7)::VARCHAR || '&ref=' || event_type || '#sec-' ||
      |  (event_id % 3)::VARCHAR AS url FROM events),
      |c1 AS (SELECT event_id, regexp_replace(url, '#.*$', '') AS nofrag FROM u),
      |c2 AS (SELECT event_id,
      |        lower(regexp_extract(nofrag, '^([^/?#]*//[^/?#]*)', 1)) AS pre,
      |        regexp_replace(nofrag, '^[^/?#]*//[^/?#]*', '') AS rest FROM c1),
      |c3 AS (SELECT event_id,
      |        regexp_replace(regexp_replace(pre, '^(https://[^/?#:]*):443$', '\1'),
      |          '^(http://[^/?#:]*):80$', '\1') AS pre2,
      |        regexp_replace(rest, '([?&])(utm_[^&=]*|gclid|fbclid)=[^&]*', '\1', 'g') AS r1
      |       FROM c2),
      |c4 AS (SELECT event_id, pre2,
      |        regexp_replace(regexp_replace(r1, '\?&+', '?'), '&&+', '&', 'g') AS r2 FROM c3),
      |c4b AS (SELECT event_id, pre2, regexp_replace(r2, '/+\?', '?') AS r3 FROM c4),
      |c5 AS (SELECT event_id, pre2 ||
      |        regexp_replace(CASE WHEN strpos(r3, '?') > 0 THEN r3
      |          ELSE regexp_replace(r3, '/+$', '') END, '[?&]+$', '') AS curl FROM c4b)
      |SELECT curl, min(event_id) AS first_event_id, count(*) AS n_dups
      |FROM c5 GROUP BY curl""".stripMargin))

  /** Truncation-duplicate sweep ([[ExactDedup.dropPrefixDuplicates]]):
    * one survivor per distinct first-20-token prefix — catches the same
    * page captured at different cut lengths, which full-content hashing
    * misses. Same single-hash-shuffle shape as dedup_exact.
    */
  val dedupPrefix = Q("dedup_prefix",
    (s, dir) => ExactDedup.dropPrefixDuplicates(
      t(s, dir, "documents"), "text", "doc_id", prefixTokens = 20)
      .select(col("doc_id"), col("source"), col("n_chars")),
    Some("""WITH p AS (SELECT doc_id, source, n_chars,
      |  md5(array_to_string(list_slice(
      |    string_split_regex(trim(lower(text)), '\s+'), 1, 20), ' ')) AS pfp
      |  FROM documents)
      |SELECT doc_id, source, n_chars FROM (
      |  SELECT doc_id, source, n_chars, min(doc_id) OVER (PARTITION BY pfp) AS keep
      |  FROM p) WHERE doc_id = keep""".stripMargin))

  val dedupExact = Q("dedup_exact",
    (s, dir) => ExactDedup.groups(t(s, dir, "documents"), "text", "doc_id"),
    Some("""SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS content_hash,
      |  count(*) AS group_size, min(doc_id) AS canonical_id
      |FROM documents GROUP BY 1""".stripMargin))

  /** Incremental ingestion dedup: a "new crawl" (every 3rd doc) swept
    * against the persistent fingerprint set of the already-ingested
    * corpus (the rest), then deduplicated within itself — anti-join on
    * the fingerprints + the canonical-id semi-join. The corpus side is
    * fingerprints only: the 100 TB of already-ingested text is never
    * re-read. Fingerprint here is the winnowing-style min-shingle hash
    * (edit-robust, so the near-dup structure of the corpus genuinely
    * fires the drop branch; [[ExactDedup.incrementalSweep]] is the same
    * shape keyed on exact content digests). Sub-5-token docs have no
    * fingerprint and always pass through.
    */
  /** The same crawl-vs-corpus sweep driven through the Bloom-sketch path
    * ([[ExactDedup.bloomSweep]], exact-content fingerprints): the corpus
    * fingerprint table is reduced to a broadcast sketch, the batch probes
    * it map-side, and verified positives make the result bit-identical
    * to the join formulation — which is why a plain SQL oracle applies
    * to a probabilistic operator.
    */
  val dedupIncrementalBloom = Q("dedup_incremental_bloom",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      val batch = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      ExactDedup.bloomSweep(batch,
          ExactDedup.groups(corpus, "text", "doc_id").select("content_hash"),
          "text", "doc_id")
        .select(col("doc_id"), col("lang"), col("n_chars"))
    },
    Some("""WITH f AS (SELECT doc_id, lang, n_chars,
      |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
      |  FROM documents),
      |corpus AS (SELECT DISTINCT fp FROM f WHERE doc_id % 3 <> 0),
      |batch AS (SELECT * FROM f WHERE doc_id % 3 = 0),
      |canon AS (SELECT fp, min(doc_id) AS keep_id FROM batch GROUP BY fp)
      |SELECT doc_id, lang, n_chars FROM batch
      |WHERE fp NOT IN (SELECT fp FROM corpus)
      |  AND doc_id IN (SELECT keep_id FROM canon)""".stripMargin))

  val dedupIncremental = Q("dedup_incremental",
    (s, dir) => {
      // Single pass over the shingle pipeline: forking the fingerprint
      // relation into corpus/batch/fresh/canon branches re-derives the
      // whole tokenize+shingle DAG once PER BRANCH (no cross-fork CSE —
      // measured 25 s vs 1.5 s at sf0.1). Instead, ONE groupBy on the
      // fingerprint decides each group's fate: drop if the corpus side
      // ever saw this fingerprint, else keep the batch minimum;
      // fingerprintless (sub-5-token) docs get per-row keys so each
      // passes through. The raw scan then semi-joins the keep-id set
      // (batch-sized → AQE broadcast) without touching text again.
      val isBatch = pmod(col("doc_id"), lit(3)) === 0
      val fps = t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("tk"))
        .select(col("doc_id"),
          TextFunctions.minShingleFingerprintFromTokens(col("tk"), 5).as("msf"))
      val keep = fps
        .groupBy(coalesce(col("msf").cast("string"),
          concat(lit("n:"), col("doc_id"))).as("__g"))
        .agg(min(when(isBatch, col("doc_id"))).as("doc_id"),
          max(when(!isBatch, 1).otherwise(0)).as("__in_corpus"))
        .where(col("__in_corpus") === 0 && col("doc_id").isNotNull)
        .select("doc_id")
      t(s, dir, "documents").where(isBatch)
        .join(keep, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("lang"), col("n_chars"))
    },
    Some(s"""WITH toks AS (SELECT doc_id, lang, n_chars,
      |    list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS tk
      |  FROM documents),
      |h AS (SELECT doc_id, lang, n_chars,
      |    list_transform(tk, t -> ('0x'||substr(md5(t),1,8))::BIGINT) AS th
      |  FROM toks),
      |f AS (SELECT doc_id, lang, n_chars, CASE WHEN len(th) < 5 THEN NULL ELSE
      |    list_min([${duckCombine(5)} for i in range(1, len(th)-3)]) END AS msf
      |  FROM h),
      |corpus AS (SELECT DISTINCT msf FROM f WHERE doc_id % 3 <> 0 AND msf IS NOT NULL),
      |batch AS (SELECT * FROM f WHERE doc_id % 3 = 0),
      |fresh AS (SELECT * FROM batch
      |  WHERE msf IS NULL OR msf NOT IN (SELECT msf FROM corpus)),
      |canon AS (SELECT msf, min(doc_id) AS keep_id FROM batch
      |  WHERE msf IS NOT NULL GROUP BY msf)
      |SELECT doc_id, lang, n_chars FROM fresh
      |WHERE msf IS NULL OR doc_id IN (SELECT keep_id FROM canon)""".stripMargin))

  private val duckShingles3 =
    """list_distinct([array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk)-1)])"""

  /** Rolling token-hash combine mirroring [[MinHashLSH.shingleHashes]]:
    * per-token 32-bit md5 hash, trigram polynomial combine mod 2^32.
    */
  private val duckCombinedHashes3 =
    s"""WITH toks AS (SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS tk
       |  FROM documents),
       |th AS (SELECT doc_id,
       |    list_transform(tk, t -> ('0x'||substr(md5(t),1,8))::BIGINT) AS th
       |  FROM toks WHERE len(tk) >= 3),
       |hs AS (SELECT doc_id,
       |    unnest([((th[i]*${MinHashLSH.CombineK} + th[i+1])*${MinHashLSH.CombineK} + th[i+2]) % ${MinHashLSH.CombineMod}
       |            for i in range(1, len(th)-1)]) AS h
       |  FROM th)""".stripMargin

  private def duckSigAggs(k: Int): String =
    MinHashLSH.hashParams(k).zipWithIndex.map { case ((a, b), i) =>
      s"min((h * $a + $b) % ${MinHashLSH.Prime}) AS sig_$i"
    }.mkString(", ")

  val dedupMinhash = Q("dedup_minhash_signatures",
    (s, dir) => MinHashLSH.signatures(t(s, dir, "documents"), "text", "doc_id", k = 8, shingleSize = 3),
    Some(s"""$duckCombinedHashes3
      |SELECT doc_id, ${duckSigAggs(8)} FROM hs GROUP BY doc_id""".stripMargin))

  /** MinHash candidate pairs are the shared upstream of FIVE queries
    * (`dedup_minhash_pairs`, `dedup_clusters`, `dedup_clusters_star`,
    * `dedup_apply`, `sample_leakage_safe_split`). Round 11
    * (optimization): the former (session, dir)-keyed MEMO is gone — it
    * made every invocation after the first (including the bench's
    * second timed pass and the four sibling queries) measure a cached
    * checkpoint instead of the pipeline, which is precisely the
    * cross-run result caching an honest bench must not do. Each CALL
    * now computes the pipeline from the parquet inputs and materializes
    * it once FOR ITSELF (eager localCheckpoint) — intra-query sharing
    * across a query's own multi-consumer DAG is a real pipeline's
    * materialize-once, cross-query reuse is not.
    */
  private def minhashPairs(s: SparkSession, dir: String): DataFrame =
    MinHashLSH.candidatePairs(t(s, dir, "documents"), "text", "doc_id",
      k = 8, bands = 8, shingleSize = 3).localCheckpoint(eager = true)

  /** Incremental near-dup detection against a PERSISTED signature index
    * ([[MinHashIndex]]): the corpus (doc_id % 3 != 0) is signed once into
    * a managed table; the batch (doc_id % 3 == 0) is signed batch-side
    * only and its band hashes probe the stored corpus bands — at 100 TB
    * the corpus is never re-signed and never self-joined per batch. The
    * oracle replays the one-shot band join and keeps exactly the pairs
    * that touch a batch document — the set the incremental probe must
    * reproduce from stored state.
    */
  val dedupMinhashIncremental = Q("dedup_minhash_incremental",
    (s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft_mh_idx").toString
      val docs = t(s, dir, "documents")
      val isBatch = pmod(col("doc_id"), lit(3)) === 0
      val idx = MinHashIndex.create(s, wh, "mh", k = 8, bands = 8, shingleSize = 3)
      idx.addBatch(docs.where(!isBatch))
      idx.candidatePairs(docs.where(isBatch))
    },
    Some {
      val bandSelects = (0 until 8).map(i =>
        s"SELECT doc_id, $i AS band_idx, md5(sig_$i::VARCHAR) AS band_hash FROM sigs").mkString(" UNION ALL ")
      s"""$duckCombinedHashes3,
         |sigs AS (SELECT doc_id, ${duckSigAggs(8)} FROM hs GROUP BY doc_id),
         |bands AS ($bandSelects)
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         |WHERE a.doc_id < b.doc_id AND (a.doc_id % 3 = 0 OR b.doc_id % 3 = 0)""".stripMargin
    })

  val dedupMinhashPairs = Q("dedup_minhash_pairs",
    (s, dir) => minhashPairs(s, dir),
    Some {
      val bandSelects = (0 until 8).map(i =>
        s"SELECT doc_id, $i AS band_idx, md5(sig_$i::VARCHAR) AS band_hash FROM sigs").mkString(" UNION ALL ")
      s"""$duckCombinedHashes3,
         |sigs AS (SELECT doc_id, ${duckSigAggs(8)} FROM hs GROUP BY doc_id),
         |bands AS ($bandSelects)
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         |WHERE a.doc_id < b.doc_id""".stripMargin
    })

  /** Duplicate clusters: connected components over the MinHash candidate
    * pairs — each document labeled with its component's minimum doc_id.
    * The oracle replays the same pair generation, then closes the graph
    * with a recursive CTE and takes the per-node minimum reachable id
    * (identical fixpoint by definition).
    */
  val dedupClusters = Q("dedup_clusters",
    (s, dir) => ConnectedComponents
      .components(minhashPairs(s, dir), "id_a", "id_b")
      .select(col("id").as("doc_id"), col("cluster").as("cluster_id")),
    Some(s"""WITH RECURSIVE pairs AS (SELECT * FROM (${dedupMinhashPairs.oracle.get})),
      |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
      |          UNION SELECT id_b, id_a FROM pairs),
      |nodes AS (SELECT DISTINCT a AS id FROM edges),
      |walk(id, lbl) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT e.a, w.lbl FROM edges e JOIN walk w ON w.id = e.b)
      |SELECT id AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY id""".stripMargin))

  /** The same clustering through the O(log n) star-contraction algorithm
    * (the high-diameter alternative): identical labels by construction,
    * so it shares [[dedupClusters]]'s recursive-CTE oracle — a
    * driver-checked proof the two algorithms agree on real data.
    */
  val dedupClustersStar = Q("dedup_clusters_star",
    (s, dir) => ConnectedComponents
      .componentsByStarContraction(minhashPairs(s, dir), "id_a", "id_b")
      .select(col("id").as("doc_id"), col("cluster").as("cluster_id")),
    dedupClusters.oracle)

  /** Dedup diagnostics: near-dup cluster SIZE distribution (how many
    * clusters of 2, of 3, …) — the shape every dedup report leads with,
    * because it distinguishes a pairwise-noise corpus from template
    * explosion. Two metadata-scale aggregations over the cluster
    * assignment; the corpus itself is never touched.
    */
  val dedupClusterSizes = Q("dedup_cluster_sizes",
    (s, dir) => ConnectedComponents
      .components(minhashPairs(s, dir), "id_a", "id_b")
      .groupBy(col("cluster")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .orderBy(col("cluster_size")),
    Some(s"""WITH clusters AS (SELECT * FROM (${dedupClusters.oracle.get})),
      |sizes AS (SELECT cluster_id, count(*) AS sz FROM clusters GROUP BY cluster_id)
      |SELECT sz AS cluster_size, count(*) AS n_clusters FROM sizes
      |GROUP BY sz ORDER BY sz""".stripMargin))

  /** Apply the near-dup clustering to the corpus: keep each cluster's
    * canonical document (the minimum doc_id — exactly the cluster label)
    * plus every unclustered document. The cluster assignment is
    * metadata-scale relative to the corpus, so AQE broadcasts it into the
    * join and the corpus scan never shuffles — the dedup sweep over
    * 100 TB is one broadcast-join pass.
    */
  val dedupApply = Q("dedup_apply",
    (s, dir) => {
      val clusters = ConnectedComponents
        .components(minhashPairs(s, dir), "id_a", "id_b")
      val dropIds = clusters.filter(col("id") =!= col("cluster"))
        .select(col("id").as("doc_id"))
      t(s, dir, "documents").join(dropIds, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("n_chars"))
    },
    Some(s"""WITH RECURSIVE pairs AS (SELECT * FROM (${dedupMinhashPairs.oracle.get})),
      |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
      |          UNION SELECT id_b, id_a FROM pairs),
      |nodes AS (SELECT DISTINCT a AS id FROM edges),
      |walk(id, lbl) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT e.a, w.lbl FROM edges e JOIN walk w ON w.id = e.b),
      |clusters AS (SELECT id, min(lbl) AS cluster_id FROM walk GROUP BY id),
      |drops AS (SELECT id FROM clusters WHERE id <> cluster_id)
      |SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id NOT IN (SELECT id FROM drops)""".stripMargin))

  /** Duplicate-span removal (exact-substring dedup on the aligned block
    * grid) — documents are REWRITTEN with corpus-duplicated 20-token
    * blocks dropped, not dropped wholesale. The oracle replays the same
    * grid: DuckDB list-comprehension chunking, a window per block content
    * for (count, canonical occurrence), ordered string_agg re-assembly.
    */
  val dedupSpans = Q("dedup_spans",
    (s, dir) => SpanDedup.removeDuplicateSpans(
      t(s, dir, "documents"), "doc_id", "text", blockTokens = 20),
    Some("""WITH toks AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(coalesce(text,'')), '\s+'), x -> len(x) > 0) AS tk
      |  FROM documents),
      |blocks AS (SELECT doc_id,
      |    unnest([{'s': i, 'btext': array_to_string(tk[i:i+19], ' '), 'blen': len(tk[i:i+19])}
      |            for i in range(1, greatest(len(tk), 1)+1, 20)], recursive := true)
      |  FROM toks),
      |w AS (SELECT doc_id, s, btext, blen,
      |    count(*) OVER (PARTITION BY btext) AS cnt,
      |    min({'d': doc_id, 's': s}) OVER (PARTITION BY btext) AS keeper
      |  FROM blocks),
      |k AS (SELECT doc_id, s, btext,
      |    (blen < 20 OR cnt = 1 OR (keeper.d = doc_id AND keeper.s = s)) AS kept
      |  FROM w)
      |SELECT doc_id, count(*)::BIGINT AS n_blocks,
      |  sum(CASE WHEN kept THEN 1 ELSE 0 END)::BIGINT AS n_kept,
      |  coalesce(string_agg(CASE WHEN kept THEN btext END, ' ' ORDER BY s), '') AS dedup_text
      |FROM k GROUP BY doc_id""".stripMargin))

  /** SemDeDup over the embedding corpus: a fixed 8-centroid codebook
    * (the first 8 vectors — deterministic, so the oracle replays it),
    * per-cell near-identical pairs at cosine ≥ 0.3, lower id survives.
    */
  val dedupSemantic = Q("dedup_semantic",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      SemanticDedup.keep(emb, "vec_id", "embedding",
        emb.where(col("vec_id") < 8), "vec_id", "embedding", tau = 0.3)
    },
    Some("""WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |c AS (SELECT vec_id AS cid, v AS cv FROM d WHERE vec_id < 8),
      |sc AS (SELECT d.vec_id, c.cid,
      |    round(list_dot_product(v, cv) /
      |      (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 6) AS cos
      |  FROM d CROSS JOIN c),
      |best AS (SELECT vec_id, cid AS cell FROM (
      |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rk
      |    FROM sc) WHERE rk = 1),
      |m AS (SELECT b.vec_id, b.cell, d.v, sqrt(list_dot_product(d.v, d.v)) AS n
      |  FROM best b JOIN d ON b.vec_id = d.vec_id),
      |drops AS (SELECT DISTINCT b2.vec_id AS dropped
      |  FROM m b1 JOIN m b2 ON b1.cell = b2.cell AND b1.vec_id < b2.vec_id
      |  WHERE round(list_dot_product(b1.v, b2.v) / (b1.n * b2.n), 6) >= 0.3)
      |SELECT vec_id, cell FROM best WHERE vec_id NOT IN (SELECT dropped FROM drops)""".stripMargin))

  val dedupSimhash = Q("dedup_simhash",
    (s, dir) => SimHash.simhashed(
      t(s, dir, "documents").where(TextFunctions.tokenCount(col("text")) > 0),
      "text", "doc_id"),
    Some {
      val bits = (0 until 32).map(j =>
        s"CASE WHEN sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN ${1L << j} ELSE 0 END")
        .mkString(" + ")
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS tk
        |  FROM documents),
        |h AS (SELECT doc_id, ('0x'||substr(md5(unnest(tk)),1,8))::BIGINT AS h FROM toks WHERE len(tk) > 0)
        |SELECT doc_id, """.stripMargin + bits + " AS simhash FROM h GROUP BY doc_id"
    })

  val dedupJaccard = Q("dedup_ngram_jaccard",
    (s, dir) => NgramJaccard.pairs(t(s, dir, "documents"), "text", "doc_id",
      n = 3, threshold = 0.35),
    Some(s"""WITH toks AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS tk
      |  FROM documents),
      |sh AS (SELECT doc_id, len($duckShingles3) AS n_sh, unnest($duckShingles3) AS shingle
      |  FROM toks WHERE len(tk) >= 3),
      |j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1,2,3,4)
      |SELECT id_a, id_b, round(inter / (n_a + n_b - inter), 6) AS jaccard
      |FROM j WHERE round(inter / (n_a + n_b - inter), 6) >= 0.35""".stripMargin))

  // ------------------------------------------------------------- similarity

  val knnBrute = Q("knn_brute_force",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Knn.bruteForceTopK(emb, emb.where(col("vec_id") < 8), "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cosine"))
    },
    Some("""WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings),
      |q AS (SELECT vec_id AS query_id, embedding AS qv FROM d WHERE vec_id < 8),
      |s AS (SELECT query_id, vec_id AS neighbor_id,
      |    round(list_dot_product(qv, embedding) /
      |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(embedding, embedding))), 6) AS cosine
      |  FROM q, d WHERE query_id <> vec_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM s)
      |SELECT query_id, rank::BIGINT AS rank, neighbor_id, cosine FROM r WHERE rank <= 5""".stripMargin))

  /** Skew-salted two-phase aggregation ≡ plain GROUP BY (exact decimal
    * partials make the result addition-order-independent; DOUBLE surface).
    */
  val qSaltedAgg = Q("q_salted_agg",
    (s, dir) => graft.operators.Salting.saltedSum(
      events(s, dir).withColumn("value_dec", col("value").cast("decimal(18,2)")),
      Seq("event_type"), "value_dec", saltFrom = Seq("event_id"),
      buckets = 32, as = "sum_value")
      .select(col("event_type"), col("sum_value").cast("double").as("sum_value")),
    Some("""SELECT event_type, sum(value::DECIMAL(18,2))::DOUBLE AS sum_value
      |FROM events GROUP BY event_type""".stripMargin))

  /** Broadcast-salted skew join ≡ plain inner join (the salt only spreads
    * the hot key across reducers; replicated right side covers every salt).
    */
  val qSaltedJoin = Q("q_salted_join",
    (s, dir) => graft.operators.Salting.saltedJoin(
      events(s, dir).select(col("event_id"), col("user_id"), col("event_type")),
      t(s, dir, "customer").select(col("c_custkey").as("user_id"), col("c_name")),
      "user_id", buckets = 8)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), countDistinct("user_id").as("nu")),
    Some("""SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS nu
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY event_type""".stripMargin))

  /** IVF ANN at full probe (nprobe = nlist) is exactly brute force — the
    * recall-vs-cost contract pinned to the same DuckDB oracle as
    * knn_brute_force (k=3 differentiates the result set).
    */
  val knnIvf = Q("knn_ivf_fullprobe",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val dim = emb.select(size(col("embedding"))).head().getInt(0)
      val centroids = (0 until 4).map(j =>
        Array.tabulate(dim)(i => if (i % 4 == j) 1f else 0f)).toSeq
      Knn.ivfTopK(emb, emb.where(col("vec_id") < 8), centroids,
        "vec_id", "embedding", k = 3, nprobe = 4)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cosine"))
    },
    Some("""WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings),
      |q AS (SELECT vec_id AS query_id, embedding AS qv FROM d WHERE vec_id < 8),
      |s AS (SELECT query_id, vec_id AS neighbor_id,
      |    round(list_dot_product(qv, embedding) /
      |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(embedding, embedding))), 6) AS cosine
      |  FROM q, d WHERE query_id <> vec_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM s)
      |SELECT query_id, rank::BIGINT AS rank, neighbor_id, cosine FROM r WHERE rank <= 3""".stripMargin))

  /** kNN graph over the whole embedding corpus (top-3 neighbors of EVERY
    * vector) via the IVF-blocked knn JOIN at full probe — exact, so the
    * DuckDB self-cross-join oracle replicates it, while the Spark plan is
    * the scale shape: both sides shuffle on the list id only, no
    * broadcast, no n² cross join.
    */
  val knnJoinGraph = Q("knn_join_graph",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val dim = emb.select(size(col("embedding"))).head().getInt(0)
      val centroids = (0 until 4).map(j =>
        Array.tabulate(dim)(i => if (i % 4 == j) 1f else 0f)).toSeq
      Knn.knnJoin(emb, centroids, "vec_id", "embedding", k = 3, nprobe = 4)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cosine"))
    },
    Some("""WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings),
      |s AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    round(list_dot_product(a.embedding, b.embedding) /
      |      (sqrt(list_dot_product(a.embedding, a.embedding)) *
      |       sqrt(list_dot_product(b.embedding, b.embedding))), 6) AS cosine
      |  FROM d a, d b WHERE a.vec_id <> b.vec_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM s)
      |SELECT query_id, rank::BIGINT AS rank, neighbor_id, cosine FROM r WHERE rank <= 3""".stripMargin))

  /** PQ encoding ([[ProductQuantizer]]) with deterministic one-hot
    * codebooks (m=4 subspaces, k=4 centroids = unit vectors at positions
    * 0..3 of each subspace): against one-hot centroids the nearest-
    * centroid rule reduces to argmax over the subvector's first four
    * dimensions, which DuckDB replicates with list_max/list_position —
    * first-occurrence tie-break on both engines. Exercises the real
    * distance-based encoder on the Spark side.
    */
  val embeddingPqCode = Q("embedding_pq_code",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val dim = emb.select(size(col("embedding"))).head().getInt(0)
      val m = 4; val w = dim / m
      val codebooks = (0 until m).map(_ =>
        (0 until 4).map(c => Array.tabulate(w)(i => if (i == c) 1f else 0f)).toSeq)
      graft.similarity.ProductQuantizer.encode(emb, "embedding", codebooks)
        .select(col("vec_id"), concat_ws("-", col("pq_code")).as("code"))
    },
    Some("""WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS e,
      |    len(embedding) // 4 AS w FROM embeddings),
      |s AS (SELECT vec_id,
      |    [list_position(e[(j-1)*w+1 : (j-1)*w+4], list_max(e[(j-1)*w+1 : (j-1)*w+4])) - 1
      |     for j in range(1, 5)] AS codes
      |  FROM d)
      |SELECT vec_id, array_to_string(codes, '-') AS code FROM s""".stripMargin))

  val knnLsh = Q("knn_sign_lsh",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Knn.signLshTopK(emb, emb.where(col("vec_id") < 8), "vec_id", "embedding", k = 5, planes = 4)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cosine"))
    },
    Some {
      val bucket = (1 to 4).map(i =>
        s"(CASE WHEN embedding[$i] > 0 THEN '1' ELSE '0' END)").mkString(" || ")
      s"""WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS embedding, $bucket AS bucket FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM b WHERE vec_id < 8),
         |s AS (SELECT query_id, c.vec_id AS neighbor_id,
         |    round(list_dot_product(qv, c.embedding) /
         |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(c.embedding, c.embedding))), 6) AS cosine
         |  FROM q JOIN b c USING (bucket) WHERE query_id <> c.vec_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM s)
         |SELECT query_id, rank::BIGINT AS rank, neighbor_id, cosine FROM r WHERE rank <= 5""".stripMargin
    })

  // ------------------------------------------------------------- multimodal

  val multimodalMeta = Q("multimodal_binary_meta",
    (s, dir) => graft.multimodal.Multimodal.binaryMeta(
      t(s, dir, "documents").select(col("doc_id"), col("text").cast("binary").as("content")),
      "content")
      .select(col("doc_id"), col("byte_length").cast("long").as("byte_length"),
        col("sha256"), col("magic")),
    Some("""SELECT doc_id, octet_length(encode(text))::BIGINT AS byte_length,
      |  sha256(text) AS sha256, upper(hex(encode(substr(text, 1, 4)))) AS magic
      |FROM documents""".stripMargin))

  /** mapPartitions feature plumbing, oracle-checked: the kernel is the
    * swappable part, so the query plugs in the integer-exact
    * [[graft.multimodal.Multimodal.laneSumExtractor]] (per-lane byte sums,
    * exactly representable in Float) and DuckDB recomputes the lanes from
    * the UTF-8 bytes via hex extraction.
    */
  val multimodalFeatures = Q("multimodal_features",
    (s, dir) => {
      val assets = t(s, dir, "documents")
        .select(col("doc_id").as("asset_id"), col("text").cast("binary").as("content"))
      graft.multimodal.Multimodal.extractFeatures(s, assets, "content", "asset_id",
          graft.multimodal.Multimodal.laneSumExtractor)
        .select(col("asset_id"),
          element_at(col("features"), 1).cast("long").as("f0"),
          element_at(col("features"), 8).cast("long").as("f7"))
    },
    Some("""SELECT doc_id AS asset_id,
      |  coalesce(list_sum(list_transform(
      |    list_filter(generate_series(1, octet_length(encode(text))), i -> (i-1)%8 = 0),
      |    i -> ('0x'||substr(hex(encode(text)), 2*i-1, 2))::INT)), 0)::BIGINT AS f0,
      |  coalesce(list_sum(list_transform(
      |    list_filter(generate_series(1, octet_length(encode(text))), i -> (i-1)%8 = 7),
      |    i -> ('0x'||substr(hex(encode(text)), 2*i-1, 2))::INT)), 0)::BIGINT AS f7
      |FROM documents""".stripMargin))

  /** REAL image decode under the hash oracle ([[graft.multimodal
    * .ImageKernels]], JDK `javax.imageio` codecs): each doc_id becomes a
    * closed-form two-tone PNG (id-derived dims and half colors), the
    * kernel PNG-encodes it, decodes it back, and walks every pixel for
    * per-band sums — and DuckDB reproduces width/height/band/sum
    * arithmetic from the id alone. A wrong decode, band order, or pixel
    * traversal shifts a sum and fails the hash; all values are exact
    * integers.
    */
  val multimodalPixelStats = Q("multimodal_pixel_stats",
    (s, dir) => {
      val assets = graft.multimodal.ImageKernels.synthesizePngs(s,
        t(s, dir, "documents").select("doc_id"), "doc_id")
      graft.multimodal.Multimodal.extractFeatures(s, assets, "content", "asset_id",
          graft.multimodal.ImageKernels.pixelStatsExtractor)
        .select(col("asset_id"),
          element_at(col("features"), 1).cast("int").as("width"),
          element_at(col("features"), 2).cast("int").as("height"),
          element_at(col("features"), 3).cast("int").as("bands"),
          element_at(col("features"), 4).cast("long").as("sum_r"),
          element_at(col("features"), 5).cast("long").as("sum_g"),
          element_at(col("features"), 6).cast("long").as("sum_b"))
    },
    Some("""WITH p AS (SELECT doc_id,
      |    (16 + doc_id % 16)::BIGINT AS w, (8 + doc_id % 8)::BIGINT AS h
      |  FROM documents)
      |SELECT doc_id AS asset_id, w::INT AS width, h::INT AS height, 3::INT AS bands,
      |  (h * ((w // 2) * (doc_id * 3 % 256) + (w - w // 2) * (doc_id * 11 % 256)))::BIGINT AS sum_r,
      |  (h * ((w // 2) * (doc_id * 5 % 256) + (w - w // 2) * (doc_id * 13 % 256)))::BIGINT AS sum_g,
      |  (h * ((w // 2) * (doc_id * 7 % 256) + (w - w // 2) * (doc_id * 17 % 256)))::BIGINT AS sum_b
      |FROM p""".stripMargin))

  /** REAL video-container demux under the hash oracle ([[graft.multimodal
    * .VideoKernels]]): each doc_id becomes a valid RIFF/AVI whose frames
    * are closed-form PNGs (frame i = the pixel-stats image of id+i), the
    * kernel walks the container ('movi' list, word-aligned '00dc'
    * chunks), decodes every frame through `javax.imageio`, and totals
    * dims + per-band pixel sums — DuckDB reproduces all of it
    * arithmetically from the id. A wrong chunk walk, alignment slip,
    * dropped frame, or decode fault shifts a sum and fails the hash.
    * (The JDK has no inter-frame codec — H.264 stays stubbed — but
    * MJPEG-family intra-frame video is demux + picture decode, both
    * JDK-real here.)
    */
  val multimodalVideoStats = Q("multimodal_video_stats",
    (s, dir) => {
      val assets = graft.multimodal.VideoKernels.synthesizeAvis(s,
        t(s, dir, "documents").select("doc_id"), "doc_id")
      graft.multimodal.Multimodal.extractFeatures(s, assets, "content", "asset_id",
          graft.multimodal.VideoKernels.videoStatsExtractor)
        .select(col("asset_id"),
          element_at(col("features"), 1).cast("long").as("n_frames"),
          element_at(col("features"), 2).cast("long").as("sum_w"),
          element_at(col("features"), 3).cast("long").as("sum_h"),
          element_at(col("features"), 4).cast("long").as("sum_r"),
          element_at(col("features"), 5).cast("long").as("sum_g"),
          element_at(col("features"), 6).cast("long").as("sum_b"))
    },
    Some("""WITH p AS (SELECT doc_id, (2 + doc_id % 4)::BIGINT AS nf FROM documents),
      |f AS (SELECT doc_id, nf, unnest(range(0, nf)) AS i FROM p),
      |d AS (SELECT doc_id, nf, doc_id + i AS fid,
      |    (16 + (doc_id + i) % 16)::BIGINT AS w,
      |    (8 + (doc_id + i) % 8)::BIGINT AS h
      |  FROM f)
      |SELECT doc_id AS asset_id, any_value(nf) AS n_frames,
      |  sum(w)::BIGINT AS sum_w, sum(h)::BIGINT AS sum_h,
      |  sum(h * ((w // 2) * (fid * 3 % 256) + (w - w // 2) * (fid * 11 % 256)))::BIGINT AS sum_r,
      |  sum(h * ((w // 2) * (fid * 5 % 256) + (w - w // 2) * (fid * 13 % 256)))::BIGINT AS sum_g,
      |  sum(h * ((w // 2) * (fid * 7 % 256) + (w - w // 2) * (fid * 17 % 256)))::BIGINT AS sum_b
      |FROM d GROUP BY doc_id""".stripMargin))

  /** REAL audio decode under the hash oracle ([[graft.multimodal
    * .AudioKernels]], JDK `javax.sound.sampled` codec family): each
    * doc_id becomes a closed-form clip whose CONTAINER AND BIT DEPTH
    * rotate on `id % 4` — WAV PCM16-LE, AU PCM24-BE, AU PCM8, AIFF
    * PCM16-BE — with id-derived channel count, frame count, and integer
    * samples over the depth's range; the kernel decodes through
    * AudioSystem and computes duration / per-channel sum+peak — and
    * DuckDB reproduces every value arithmetically from the id and the
    * rotation alone. A wrong header parse, endianness, channel
    * de-interleave, or the 24-bit sign extension (negative samples in
    * the AU24 slice decode to huge positives without it) shifts a sum
    * and fails the hash; all values are exact integers.
    */
  val multimodalAudioStats = Q("multimodal_audio_stats",
    (s, dir) => {
      val assets = graft.multimodal.AudioKernels.synthesizeMixed(s,
        t(s, dir, "documents").select("doc_id"), "doc_id")
      graft.multimodal.Multimodal.extractFeatures(s, assets, "content", "asset_id",
          graft.multimodal.AudioKernels.audioStatsExtractor)
        .select(col("asset_id"),
          element_at(col("features"), 1).cast("int").as("channels"),
          element_at(col("features"), 2).cast("int").as("sample_rate"),
          element_at(col("features"), 3).cast("long").as("n_frames"),
          element_at(col("features"), 4).cast("long").as("duration_ms"),
          element_at(col("features"), 5).cast("long").as("sum0"),
          element_at(col("features"), 6).cast("long").as("sum1"),
          element_at(col("features"), 7).cast("long").as("peak0"),
          element_at(col("features"), 8).cast("long").as("peak1"),
          element_at(col("features"), 9).cast("int").as("bits"))
    },
    Some("""WITH p AS (SELECT doc_id, (1 + doc_id % 2)::BIGINT AS ch,
      |    (64 + doc_id % 64)::BIGINT AS n,
      |    (CASE doc_id % 4 WHEN 1 THEN 65536 WHEN 2 THEN 256 ELSE 4096 END)::BIGINT AS r,
      |    (CASE doc_id % 4 WHEN 1 THEN 24 WHEN 2 THEN 8 ELSE 16 END)::INT AS bits
      |  FROM documents)
      |SELECT doc_id AS asset_id, ch::INT AS channels, 8000::INT AS sample_rate,
      |  n AS n_frames, (n * 1000 // 8000)::BIGINT AS duration_ms,
      |  list_sum([(doc_id*3 + 7*i) % r - r//2 for i in range(0, n)])::BIGINT AS sum0,
      |  (CASE WHEN ch = 2 THEN list_sum([(doc_id*5 + 7*i) % r - r//2 for i in range(0, n)]) ELSE 0 END)::BIGINT AS sum1,
      |  list_max([abs((doc_id*3 + 7*i) % r - r//2) for i in range(0, n)])::BIGINT AS peak0,
      |  (CASE WHEN ch = 2 THEN list_max([abs((doc_id*5 + 7*i) % r - r//2) for i in range(0, n)]) ELSE 0 END)::BIGINT AS peak1,
      |  bits
      |FROM p""".stripMargin))

  // ------------------------------------------------- as-of / temporal joins

  /** Backward as-of join: each click/view event picks up the user's most
    * recent purchase at-or-before its timestamp. Oracle is DuckDB's native
    * ASOF JOIN — strongest possible check of the union-sort-carry plan.
    */
  val qAsofJoin = Q("q_asof_join",
    (s, dir) => {
      val e = events(s, dir)
      val left = e.where(col("event_type").isin("click", "view"))
        .select(col("event_id"), col("user_id"), col("ts"))
      // right side deduped per (user, ts) for determinism
      val w = Window.partitionBy("user_id", "ts").orderBy(col("event_id").desc)
      val purchases = e.where(col("event_type") === "purchase")
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("user_id"), col("ts"), col("value"))
      AsOfJoin.backward(left, purchases, Seq("user_id"), "ts", "ts", Seq("value"))
        .select(col("event_id"), col("user_id"),
          (unix_micros(col("ts")) - unix_micros(col("asof_ts"))).as("lag_us"),
          col("asof_value"))
    },
    Some("""WITH p0 AS (SELECT *, row_number() OVER (PARTITION BY user_id, ts
      |    ORDER BY event_id DESC) AS rn FROM events WHERE event_type='purchase'),
      |p AS (SELECT user_id, ts, value FROM p0 WHERE rn = 1),
      |l AS (SELECT event_id, user_id, ts FROM events WHERE event_type IN ('click','view'))
      |SELECT l.event_id, l.user_id,
      |  epoch_us(l.ts) - epoch_us(p.ts) AS lag_us, p.value AS asof_value
      |FROM l ASOF LEFT JOIN p ON l.user_id = p.user_id AND l.ts >= p.ts""".stripMargin))

  // ---------------------------------------------- more relational coverage

  val qAntiJoin = Q("q_anti_join",
    (s, dir) => t(s, dir, "customer")
      .join(t(s, dir, "orders").select(col("o_custkey")).distinct(),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_no_orders"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("decimal(38,2)").as("bal")),
    Some("""SELECT count(*) AS n_no_orders, sum(c_acctbal::DECIMAL(18,2)) AS bal
      |FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)""".stripMargin))

  val qPivot = Q("q_pivot",
    (s, dir) => events(s, dir).groupBy("user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .select(col("user_id"), col("click").cast("long").as("click"),
        col("error").cast("long").as("error"), col("purchase").cast("long").as("purchase"),
        col("signup").cast("long").as("signup"), col("view").cast("long").as("view")),
    Some("""SELECT user_id,
      |  count(*) FILTER (event_type='click') AS click,
      |  count(*) FILTER (event_type='error') AS error,
      |  count(*) FILTER (event_type='purchase') AS purchase,
      |  count(*) FILTER (event_type='signup') AS signup,
      |  count(*) FILTER (event_type='view') AS view
      |FROM events GROUP BY user_id""".stripMargin))

  /** Exact percentiles. The three price percentiles come from ONE
    * array-argument percentile aggregate: each scalar percentile call
    * keeps (and merges) its own value→count buffer over the same column,
    * so splitting them triples the dominant cost (measured 5.3 s → 2.6 s
    * at sf0.1). An approx_percentile variant is the scale path; exact is
    * the oracle anchor.
    */
  val qPercentile = Q("q_percentile",
    (s, dir) => t(s, dir, "lineitem").groupBy("l_returnflag")
      .agg(
        expr("percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D))").as("ps"),
        round(expr("percentile(l_quantity, 0.5)"), 4).as("qty_median"))
      .select(col("l_returnflag"),
        round(element_at(col("ps"), 1), 4).as("p25"),
        round(element_at(col("ps"), 2), 4).as("p50"),
        round(element_at(col("ps"), 3), 4).as("p75"),
        col("qty_median")),
    Some("""SELECT l_returnflag,
      |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
      |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
      |  round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
      |  round(quantile_cont(l_quantity, 0.5), 4) AS qty_median
      |FROM lineitem GROUP BY l_returnflag""".stripMargin))

  val qCube = Q("q_cube",
    (s, dir) => t(s, dir, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        count(lit(1)).as("n")),
    Some("""SELECT l_returnflag, l_linestatus,
      |  sum(l_quantity::DECIMAL(18,2))::DOUBLE AS sum_qty, count(*) AS n
      |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin))

  // ------------------------------------------- more conversion / CDC surface

  /** F12 — nested JSON as Spark 4 VariantType: parse once, typed extraction,
    * missing paths null (the reference's variant mode read back through
    * try_variant_get, TEST/IcebergChangeConsumerVariantTest.java:30,51,147).
    */
  val fnVariant = Q("fn_variant",
    (s, dir) => events(s, dir).select(
      col("event_id"),
      expr("variant_get(parse_json(props), '$.k', 'bigint')").as("k"),
      expr("try_variant_get(parse_json(props), '$.missing', 'bigint')").as("missing")),
    Some("""SELECT event_id, json_extract_string(props, '$.k')::BIGINT AS k,
      |  NULL::BIGINT AS missing FROM events""".stripMargin))

  /** F2 — Debezium precise-mode decimal: unscaled big-endian
    * two's-complement bytes (base64) + scale → DecimalType. The encode side
    * is built natively (hex/lpad/unhex) so positive AND negative unscaled
    * values round-trip through the two's-complement path.
    */
  val fnDecimalPrecise = Q("fn_decimal_precise",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      def b64(unscaled: Column): Column = base64(unhex(lpad(hex(unscaled), 16, "0")))
      val cents = round(col("l_extendedprice") * 100, 0).cast("long")
      // Output compared as DOUBLE: the decode itself (two's-complement
      // bytes → DecimalType) still runs through DecimalFromBytes; only the
      // final comparison surface is widened, because the driver's hash is
      // sensitive to decimal physical encoding even when DESCRIBE types and
      // values agree exactly on both sides (round-1 finding).
      li.select(
        col("l_orderkey"), col("l_linenumber"),
        graft.functions.Conversions.decimalFromBase64(b64(cents), 18, 2)
          .cast("double").as("dec_price"),
        graft.functions.Conversions.decimalFromBase64(b64(cents - 1000000L), 18, 2)
          .cast("double").as("dec_shift"))
    },
    Some("""SELECT l_orderkey, l_linenumber,
      |  (round(l_extendedprice*100)::BIGINT / 100.0)::DECIMAL(18,2)::DOUBLE AS dec_price,
      |  ((round(l_extendedprice*100)::BIGINT - 1000000) / 100.0)::DECIMAL(18,2)::DOUBLE AS dec_shift
      |FROM lineitem""".stripMargin))

  /** R2 + R6 — heartbeat filtering and destination→table-name mapping over
    * a destination column, all codegen'd string expressions.
    */
  val cdcRouting = Q("cdc_routing",
    (s, dir) => {
      val mapper = DefaultTableMapper(prefix = "cdc_",
        replaceRegex = Some(("^SrvA\\.", "")))
      val withDest = events(s, dir).withColumn("destination",
        when(col("event_type") === "view",
          concat(lit("__debezium-heartbeat.src"), col("user_id") % 3))
          .otherwise(concat(lit("SrvA.db-"), col("user_id") % 3, lit("."), col("event_type"))))
      withDest
        .where(!col("destination").startsWith("__debezium-heartbeat"))
        .select(mapper.mapColumn(col("destination")).as("table_name"))
        .groupBy("table_name").agg(count(lit(1)).as("n"))
    },
    Some("""WITH d AS (SELECT CASE WHEN event_type='view'
      |    THEN '__debezium-heartbeat.src' || (user_id % 3)
      |    ELSE 'SrvA.db-' || (user_id % 3) || '.' || event_type END AS destination
      |  FROM events),
      |f AS (SELECT destination FROM d WHERE destination NOT LIKE '__debezium-heartbeat%'),
      |m AS (SELECT lower('cdc_' || replace(replace(regexp_replace(destination, '^SrvA\.', ''), '.', '_'), '-', '_')) AS table_name FROM f)
      |SELECT table_name, count(*) AS n FROM m GROUP BY table_name""".stripMargin))

  /** R3 — excluded columns dropped at schema-inference time (never parsed). */
  val cdcColumnExclusion = Q("cdc_column_exclusion",
    (s, dir) => {
      val schemaJson =
        """{"type":"struct","fields":[
          |{"field":"event_id","type":"int64","optional":false},
          |{"field":"user_id","type":"int64","optional":true},
          |{"field":"event_type","type":"string","optional":true},
          |{"field":"value","type":"float64","optional":true},
          |{"field":"props","type":"string","optional":true}
          |]}""".stripMargin.replaceAll("\n", "")
      val env = events(s, dir).select(concat(
        lit(s"""{"schema":$schemaJson,"payload":"""),
        to_json(struct(col("event_id"), col("user_id"), col("event_type"), col("value"), col("props"))),
        lit("}")).as("value"))
      val inferred = EventDecoder.infer(Seq(schemaJson),
        Some("""{"type":"struct","fields":[{"field":"event_id","type":"int64"}]}"""),
        SchemaMappingConfig(excludedColumns = Set("props", "value")))
      EventDecoder.decode(env, inferred)
    },
    Some("SELECT event_id, user_id, event_type FROM events"))

  /** F11 — recursive nested conversion: struct, array, and map fields
    * decode through the same inference + from_json path; outputs extract
    * from each nesting level so the oracle verifies the full round trip.
    */
  val cdcDecodeNested = Q("cdc_decode_nested",
    (s, dir) => {
      val schemaJson =
        """{"type":"struct","fields":[
          |{"field":"event_id","type":"int64","optional":false},
          |{"field":"nested","type":"struct","optional":true,"fields":[
          |  {"field":"k","type":"int64","optional":true},
          |  {"field":"label","type":"string","optional":true}]},
          |{"field":"tags","type":"array","optional":true,"items":{"type":"string","optional":true}},
          |{"field":"attrs","type":"map","optional":true,
          |  "keys":{"type":"string","optional":false},"values":{"type":"int64","optional":true}}
          |]}""".stripMargin.replaceAll("\n", "")
      val e = events(s, dir)
      val env = e.select(concat(
        lit(s"""{"schema":$schemaJson,"payload":"""),
        to_json(struct(
          col("event_id"),
          struct(get_json_object(col("props"), "$.k").cast("long").as("k"),
            col("event_type").as("label")).as("nested"),
          array(col("event_type"), substring(col("event_type"), 1, 2)).as("tags"),
          map(lit("uid"), col("user_id"), lit("eid"), col("event_id")).as("attrs"))),
        lit("}")).as("value"))
      val inferred = EventDecoder.infer(Seq(schemaJson),
        Some("""{"type":"struct","fields":[{"field":"event_id","type":"int64"}]}"""))
      EventDecoder.decode(env, inferred).select(
        col("event_id"),
        col("nested.k").as("nested_k"),
        col("nested.label").as("nested_label"),
        element_at(col("tags"), 2).as("tag2"),
        size(col("tags")).cast("long").as("n_tags"),
        element_at(col("attrs"), "uid").as("attr_uid"))
    },
    Some("""SELECT event_id,
      |  json_extract_string(props, '$.k')::BIGINT AS nested_k,
      |  event_type AS nested_label,
      |  substr(event_type, 1, 2) AS tag2,
      |  2::BIGINT AS n_tags,
      |  user_id AS attr_uid
      |FROM events""".stripMargin))

  /** D6 — schema evolution across one batch: v1 events carry
    * (event_id, user_id:int32), v2 adds `value` and widens user_id to
    * int64. Inference union-by-names + promotes; v1 rows read back with a
    * typed null for the added column.
    */
  val cdcSchemaEvolution = Q("cdc_schema_evolution",
    (s, dir) => {
      val v1 =
        """{"type":"struct","fields":[{"field":"event_id","type":"int64","optional":false},{"field":"user_id","type":"int32","optional":true}]}"""
      val v2 =
        """{"type":"struct","fields":[{"field":"event_id","type":"int64","optional":false},{"field":"user_id","type":"int64","optional":true},{"field":"value","type":"float64","optional":true}]}"""
      val e = events(s, dir)
      val env = e.select(
        when(col("event_id") % 2 === 0, concat(
          lit(s"""{"schema":$v1,"payload":"""),
          to_json(struct(col("event_id"), col("user_id"))), lit("}")))
          .otherwise(concat(
            lit(s"""{"schema":$v2,"payload":"""),
            to_json(struct(col("event_id"), col("user_id"), col("value"))), lit("}")))
          .as("value"))
      val inferred = EventDecoder.infer(Seq(v1, v2),
        Some("""{"type":"struct","fields":[{"field":"event_id","type":"int64"}]}"""))
      EventDecoder.decode(env, inferred)
    },
    Some("""SELECT event_id, user_id,
      |  CASE WHEN event_id % 2 = 1 THEN value END AS value FROM events""".stripMargin))

  /** T5-adjacent — event-time tumbling-window aggregation with Spark's
    * `window()` (the streaming-native construct, exercised here in batch:
    * identical semantics, and the same column the streaming path would
    * produce). Oracle: DuckDB `time_bucket`.
    */
  val qTumblingWindow = Q("q_tumbling_window",
    (s, dir) => events(s, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("event_type"), col("n"), col("sum_value")),
    Some("""SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS w_start,
      |  event_type, count(*) AS n, sum(value::DECIMAL(18,2))::DOUBLE AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin))

  /** Sliding event-time windows (2h width, 1h slide) through
    * [[graft.streaming.EventTimeOps.sliding]]: every event lands in
    * width/slide = 2 windows. Oracle fans each row out to its two bucket
    * starts explicitly.
    */
  val qSlidingWindow = Q("q_sliding_window",
    (s, dir) => graft.streaming.EventTimeOps.sliding(
      events(s, dir), "ts", "2 hours", "1 hour", "0 seconds", Seq.empty,
      Seq(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value")))
      .select(date_format(col("w_start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("n"), col("sum_value")),
    Some("""SELECT strftime(time_bucket(INTERVAL '1 hour', ts) - i * INTERVAL '1 hour',
      |    '%Y-%m-%d %H:%M:%S') AS w_start,
      |  count(*) AS n, sum(value::DECIMAL(18,2))::DOUBLE AS sum_value
      |FROM events CROSS JOIN (SELECT unnest([0, 1]) AS i)
      |GROUP BY 1""".stripMargin))

  /** Range (band) join: values bucketed into literal bands via a non-equi
    * broadcast join — the Spark-shaped way to join a fact to a small range
    * dimension (BroadcastNestedLoopJoin on a 3-row build side; never a
    * shuffle of the fact).
    */
  val qRangeJoin = Q("q_range_join",
    (s, dir) => {
      val bands = s.createDataFrame(Seq(
        ("low", 0.0, 50.0), ("mid", 50.0, 120.0), ("high", 120.0, 1e9)
      )).toDF("band", "lo", "hi")
      events(s, dir).join(broadcast(bands),
        col("value") >= col("lo") && col("value") < col("hi"))
        .groupBy("band")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
    },
    Some("""WITH bands(band, lo, hi) AS (VALUES
      |  ('low', 0.0, 50.0), ('mid', 50.0, 120.0), ('high', 120.0, 1e9))
      |SELECT band, count(*) AS n, sum(value::DECIMAL(18,2))::DOUBLE AS sum_value
      |FROM events JOIN bands ON value >= lo AND value < hi
      |GROUP BY band""".stripMargin))

  /** Ordered string aggregation (listagg): collect_list is unordered by
    * contract, so determinism comes from collecting (rank, value) structs
    * and array_sort-ing before the join — the Spark-shaped `string_agg
    * ... ORDER BY`.
    */
  val qStringAgg = Q("q_string_agg",
    (s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders").withColumn("rk", row_number().over(w))
        .where(col("rk") <= 5)
        .groupBy("o_orderpriority")
        .agg(concat_ws(",",
          transform(array_sort(collect_list(struct(col("rk"), col("o_orderkey")))),
            st => st.getField("o_orderkey").cast("string"))).as("top_keys"))
    },
    Some("""WITH r AS (SELECT o_orderpriority, o_orderkey,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk FROM orders)
      |SELECT o_orderpriority, string_agg(o_orderkey::VARCHAR, ',' ORDER BY rk) AS top_keys
      |FROM r WHERE rk <= 5 GROUP BY o_orderpriority""".stripMargin))

  /** F3 — UUID handling: canonical 8-4-4-4-12 form + validity predicate
    * (the reference stores UUIDs as strings on the Spark side, §1.3).
    */
  val fnUuid = Q("fn_uuid",
    (s, dir) => {
      val h = md5(col("text"))
      t(s, dir, "documents").select(
        col("doc_id"),
        concat_ws("-", substring(h, 1, 8), substring(h, 9, 4), substring(h, 13, 4),
          substring(h, 17, 4), substring(h, 21, 12)).as("uuid"),
        regexp_like(
          concat_ws("-", substring(h, 1, 8), substring(h, 9, 4), substring(h, 13, 4),
            substring(h, 17, 4), substring(h, 21, 12)),
          lit("^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$")).as("valid"))
    },
    Some("""SELECT doc_id,
      |  substr(md5(text),1,8)||'-'||substr(md5(text),9,4)||'-'||substr(md5(text),13,4)||'-'||substr(md5(text),17,4)||'-'||substr(md5(text),21,12) AS uuid,
      |  regexp_matches(substr(md5(text),1,8)||'-'||substr(md5(text),9,4)||'-'||substr(md5(text),13,4)||'-'||substr(md5(text),17,4)||'-'||substr(md5(text),21,12),
      |    '^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$') AS valid
      |FROM documents""".stripMargin))

  /** Sketch aggregates (HLL distinct-count, t-digest percentile): the
    * mergeable-summary path for groups too big for exact aggregation.
    * Oracle-checked via accuracy bounds: the booleans only match DuckDB's
    * constant `true` if the sketch error really is within the bound —
    * an exact hash-compare that still permits approximate internals.
    */
  val aggSketches = Q("agg_sketches",
    (s, dir) => {
      // Distinct-count and percentile families in SEPARATE aggregations
      // joined on the 3-row group key: mixing them in one agg makes
      // Catalyst Expand-duplicate every input row per distinct set (2×
      // the shuffle at any scale). The distinct branch pre-dedups
      // (flag, partkey) with a map-side partial, so exact_nd is a count
      // and the HLL sees each key once (HLL is duplicate-insensitive —
      // identical sketch, measured 4.3 s → 1.0 s at sf0.1).
      val li = t(s, dir, "lineitem")
      val nd = li.select("l_returnflag", "l_partkey").distinct()
        .groupBy("l_returnflag")
        .agg(approx_count_distinct("l_partkey").as("hll"),
          count(lit(1)).as("exact_nd"))
      // exact anchor on the low-cardinality column: percentile's buffer is
      // a ~50-entry count map, not 600k doubles — same validation, 2× less
      // query time
      val pct = li.groupBy("l_returnflag")
        .agg(expr("approx_percentile(l_quantity, 0.5, 1000)").as("p50_sketch"),
          expr("percentile(l_quantity, 0.5)").as("p50_exact"))
      nd.join(pct, "l_returnflag")
        .select(col("l_returnflag"),
          (abs(col("hll") - col("exact_nd")) / col("exact_nd") < 0.1).as("hll_ok"),
          // 10%: wide enough that an adjacent-integer landing on the discrete
          // domain still passes, tight enough to catch a broken sketch
          (abs(col("p50_sketch") - col("p50_exact")) / col("p50_exact") < 0.1).as("p50_ok"))
    },
    Some("""SELECT DISTINCT l_returnflag, true AS hll_ok, true AS p50_ok
      |FROM lineitem""".stripMargin))

  // --------------------------------------------- embedding near-dup (dedup)

  val dedupEmbedding = Q("dedup_embedding_cosine",
    (s, dir) => EmbeddingNearDup.pairs(t(s, dir, "embeddings"), "vec_id", "embedding",
      threshold = 0.3, planes = 4),
    Some {
      val bucket = (1 to 4).map(i =>
        s"(CASE WHEN embedding[$i] > 0 THEN '1' ELSE '0' END)").mkString(" || ")
      s"""WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS e, $bucket AS bucket FROM embeddings)
         |SELECT a.vec_id AS id_a, c.vec_id AS id_b,
         |  round(list_dot_product(a.e, c.e) /
         |    (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(c.e, c.e))), 6) AS cosine
         |FROM b a JOIN b c USING (bucket)
         |WHERE a.vec_id < c.vec_id
         |  AND round(list_dot_product(a.e, c.e) /
         |    (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(c.e, c.e))), 6) >= 0.3""".stripMargin
    })

  /** Cluster-balanced sampling — the cross-family capstone: join text
    * quality scores to embedding-space buckets (deterministic sign-LSH
    * cells standing in for cluster ids) and keep each cell's top-10 by
    * quality. One join + one per-bucket top-k window; WindowGroupLimit
    * prunes to 10 rows per partition before the sort completes, so the
    * pattern holds when a bucket spans terabytes.
    */
  val pipelineBalancedSample = Q("pipeline_balanced_sample",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), TextFunctions.tokens(col("text")).as("tk"))
        .select(col("doc_id"),
          TextFunctions.qualityScoreFromTokens(col("text"), col("tk")).as("quality"))
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").as("doc_id"),
          Knn.signBucket(col("embedding"), 4).as("bucket"))
      val w = Window.partitionBy("bucket")
        .orderBy(col("quality").desc, col("doc_id").asc)
      docs.join(emb, "doc_id")
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
        .select(col("bucket"), col("doc_id"), col("quality"),
          col("rk").cast("long").as("rk"))
    },
    Some {
      val bucket = (1 to 4).map(i =>
        s"(CASE WHEN embedding[$i] > 0 THEN '1' ELSE '0' END)").mkString(" || ")
      s"""WITH toks AS (SELECT doc_id, text,
         |    list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS tk
         |  FROM documents),
         |q AS (SELECT doc_id, $duckQuality AS quality FROM toks),
         |b AS (SELECT vec_id AS doc_id, $bucket AS bucket FROM embeddings),
         |r AS (SELECT q.doc_id, quality, bucket, row_number() OVER (
         |    PARTITION BY bucket ORDER BY quality DESC, q.doc_id ASC) AS rk
         |  FROM q JOIN b USING (doc_id))
         |SELECT bucket, doc_id, quality, rk::BIGINT AS rk FROM r WHERE rk <= 10""".stripMargin
    })

  /** SQ8 scalar quantization of the embedding corpus (per-vector affine
    * uint8 codes — the 4× storage cut for vector search at 100 TB), checked
    * by exact integer code sums plus the max per-dimension reconstruction
    * error (a max is float-reduction-order independent, unlike an MSE sum,
    * so both engines agree bit-for-bit). Map-only at any scale.
    */
  val embeddingQuantize = Q("embedding_quantize",
    (s, dir) => {
      import graft.similarity.Quantize
      t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
        .withColumn("mn", array_min(col("e")))
        .withColumn("mx", array_max(col("e")))
        .withColumn("codes", Quantize.sq8Encode(col("e"), col("mn"), col("mx")))
        .withColumn("deq", Quantize.sq8Decode(col("codes"), col("mn"), col("mx")))
        .select(col("vec_id"),
          aggregate(col("codes"), lit(0L), (a, x) => a + x).as("code_sum"),
          round(Quantize.maxAbsError(col("e"), col("deq")), 9).as("max_abs_err"))
    },
    Some("""WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS e,
      |    list_aggregate(embedding::DOUBLE[], 'min') AS mn,
      |    list_aggregate(embedding::DOUBLE[], 'max') AS mx
      |  FROM embeddings),
      |c AS (SELECT vec_id, e, mn, mx,
      |    list_transform(e, x -> CASE WHEN mx = mn THEN 0
      |      ELSE round((x - mn) / (mx - mn) * 255)::INT END) AS codes
      |  FROM b),
      |d AS (SELECT vec_id, codes, e,
      |    list_transform(codes, cc -> mn + (cc::DOUBLE * (mx - mn)) / 255.0) AS deq
      |  FROM c)
      |SELECT vec_id, list_sum(codes)::BIGINT AS code_sum,
      |  round(list_max([abs(e[i] - deq[i]) for i in range(1, len(e)+1)]), 9) AS max_abs_err
      |FROM d""".stripMargin))

  // ------------------------------------------- profiling / entity resolution

  /** ANALYZE-style table profile: one row per profiled column with row /
    * null / exact-distinct counts and numeric min/max — the stats a query
    * planner or data-quality gate reads before touching 100 TB. ONE scan:
    * all per-column aggregates ride a single aggregation (map-side
    * partials), and the row-per-column shape is an explode of the single
    * aggregate row, not a re-scan per column.
    */
  val tableStats = Q("table_stats",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val cols = Seq("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag")
      def numeric(c: String) = li.schema(c).dataType != org.apache.spark.sql.types.StringType
      val aggs = count(lit(1)).as("n_rows") +: cols.flatMap { c =>
        Seq(sum(col(c).isNull.cast("long")).as(s"nn_$c"),
          count_distinct(col(c)).as(s"ndv_$c")) ++
          (if (numeric(c))
            Seq(min(col(c)).cast("double").as(s"mn_$c"),
              max(col(c)).cast("double").as(s"mx_$c"))
          else Seq.empty)
      }
      li.agg(aggs.head, aggs.tail: _*)
        .select(explode(array(cols.map { c =>
          struct(lit(c).as("column"), col("n_rows"),
            col(s"nn_$c").as("n_nulls"), col(s"ndv_$c").as("ndv"),
            (if (numeric(c)) col(s"mn_$c") else lit(null).cast("double")).as("min_num"),
            (if (numeric(c)) col(s"mx_$c") else lit(null).cast("double")).as("max_num"))
        }: _*)).as("s"))
        .select("s.*")
    },
    Some("""WITH a AS (SELECT count(*) AS n_rows,
      |  sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS nn_ok,
      |  count(DISTINCT l_orderkey) AS ndv_ok,
      |  min(l_orderkey)::DOUBLE AS mn_ok, max(l_orderkey)::DOUBLE AS mx_ok,
      |  sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)::BIGINT AS nn_q,
      |  count(DISTINCT l_quantity) AS ndv_q,
      |  min(l_quantity)::DOUBLE AS mn_q, max(l_quantity)::DOUBLE AS mx_q,
      |  sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END)::BIGINT AS nn_p,
      |  count(DISTINCT l_extendedprice) AS ndv_p,
      |  min(l_extendedprice)::DOUBLE AS mn_p, max(l_extendedprice)::DOUBLE AS mx_p,
      |  sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)::BIGINT AS nn_r,
      |  count(DISTINCT l_returnflag) AS ndv_r
      |  FROM lineitem)
      |SELECT 'l_orderkey' AS "column", n_rows, nn_ok AS n_nulls, ndv_ok AS ndv,
      |  mn_ok AS min_num, mx_ok AS max_num FROM a
      |UNION ALL SELECT 'l_quantity', n_rows, nn_q, ndv_q, mn_q, mx_q FROM a
      |UNION ALL SELECT 'l_extendedprice', n_rows, nn_p, ndv_p, mn_p, mx_p FROM a
      |UNION ALL SELECT 'l_returnflag', n_rows, nn_r, ndv_r, NULL::DOUBLE, NULL::DOUBLE FROM a""".stripMargin))

  /** Entity-resolution candidate pairs: block on coarse attributes
    * (nation, market segment), generate within-block pairs, keep pairs
    * whose names are within edit distance 2 — the classic blocking →
    * pairwise-compare → threshold pattern (record linkage). The
    * all-pairs comparison never happens: the join key IS the blocking
    * key, so comparisons are confined to blocks (shuffle on the block
    * key, quadratic only in block size — the knob that keeps ER feasible
    * at corpus scale). `levenshtein` is codegen'd on both engines.
    */
  val erBlockedPairs = Q("er_blocked_pairs",
    (s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_mktsegment"))
      val a = c.select(col("c_custkey").as("a_custkey"), col("c_name").as("a_name"),
        col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"))
      val b = c.select(col("c_custkey").as("b_custkey"), col("c_name").as("b_name"),
        col("c_nationkey").as("b_nat"), col("c_mktsegment").as("b_seg"))
      // length-difference prefilter: levenshtein >= |len(a) - len(b)|, so
      // pairs differing by >2 chars can't pass the threshold — the cheap
      // comparison runs inside the join before the edit distance. The
      // distance itself is the thresholded EditDistanceWithin expression
      // (exact value when <= 2, -1 otherwise): prefix/suffix strip +
      // banded DP cuts the per-pair cost ~6x vs full levenshtein on keys
      // sharing long common runs, with identical surviving rows.
      a.join(b, col("nat") === col("b_nat") && col("seg") === col("b_seg") &&
          col("a_custkey") < col("b_custkey") &&
          abs(length(col("a_name")) - length(col("b_name"))) <= 2)
        .withColumn("dist", TextFunctions.editDistanceWithin(col("a_name"), col("b_name"), 2))
        .filter(col("dist") >= 0)
        .select(col("a_custkey"), col("b_custkey"), col("dist").cast("long").as("dist"))
    },
    Some("""SELECT a.c_custkey AS a_custkey, b.c_custkey AS b_custkey,
      |  levenshtein(a.c_name, b.c_name)::BIGINT AS dist
      |FROM customer a JOIN customer b
      |  ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
      |  AND a.c_custkey < b.c_custkey
      |WHERE levenshtein(a.c_name, b.c_name) <= 2""".stripMargin))

  /** Corpus vocabulary with document frequency: tokenize once, explode,
    * count term/document frequencies, min-df cut, rank. The ranking
    * window runs AFTER the min-df cut, over vocabulary-scale rows
    * (thousands), not corpus-scale — the same metadata-after-aggregation
    * shape as the other top-k queries.
    */
  val textVocab = Q("text_vocab",
    (s, dir) => {
      val terms = t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("tk"))
        .select(col("doc_id"), explode(col("tk")).as("term"))
      val counts = terms.groupBy("term")
        .agg(count(lit(1)).as("tf"), count_distinct(col("doc_id")).as("df"))
        .filter(col("df") >= 5)
      counts.withColumn("rk",
          row_number().over(Window.orderBy(col("tf").desc, col("term").asc)).cast("long"))
        .filter(col("rk") <= 200)
    },
    Some("""WITH toks AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS tk
      |  FROM documents),
      |e AS (SELECT doc_id, unnest(tk) AS term FROM toks),
      |c AS (SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df FROM e GROUP BY term),
      |f AS (SELECT * FROM c WHERE df >= 5),
      |r AS (SELECT term, tf, df, row_number() OVER (ORDER BY tf DESC, term ASC) AS rk FROM f)
      |SELECT term, tf, df, rk::BIGINT AS rk FROM r WHERE rk <= 200""".stripMargin))

  /** Adjacent-token-pair counts — the merge-candidate scan of one BPE
    * training iteration (count all symbol pairs, pick the most frequent).
    * Pair construction is a map-only array transform over the tokenized
    * attribute; the count is one map-side-combined shuffle; the top-k is
    * rank-after-aggregation over pair-vocabulary-scale rows.
    */
  val textBpePairs = Q("text_bpe_pairs",
    (s, dir) => {
      val pairs = t(s, dir, "documents")
        .select(TextFunctions.tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= 2)
        .select(explode(expr(
          "transform(slice(tk, 1, size(tk)-1), (x, i) -> concat(x, ' ', tk[i+1]))")).as("pair"))
      pairs.groupBy("pair").agg(count(lit(1)).as("n"))
        .withColumn("rk",
          row_number().over(Window.orderBy(col("n").desc, col("pair").asc)).cast("long"))
        .filter(col("rk") <= 100)
    },
    Some("""WITH toks AS (SELECT
      |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS tk
      |  FROM documents),
      |p AS (SELECT [tk[i] || ' ' || tk[i+1] for i in range(1, len(tk))] AS pairs
      |  FROM toks WHERE len(tk) >= 2),
      |e AS (SELECT unnest(pairs) AS pair FROM p),
      |c AS (SELECT pair, count(*) AS n FROM e GROUP BY pair),
      |r AS (SELECT pair, n, row_number() OVER (ORDER BY n DESC, pair ASC) AS rk FROM c)
      |SELECT pair, n, rk::BIGINT AS rk FROM r WHERE rk <= 100""".stripMargin))

  // ------------------------------------------------------------------ index

  val all: Seq[Q] = Seq(
    cdcDedup, cdcUpsertHard, cdcUpsertSoft, cdcUpsertPartitioned, cdcAppendFallback, cdcReplicate, partitionEvolution,
    sqlPartitionEvolutionDdl,
    mvIncremental, mvIncrementalMinmax,
    cdcScd2, cdcSnapshotAsOf, cdcReconcile, qScd2TemporalJoin,
    cdcDecode, cdcOpMapping,
    cdcRouting, cdcColumnExclusion, cdcSchemaEvolution, cdcDecodeNested,
    fnTemporal, fnTemporalModes, fnJson, fnString, fnArray, fnHash, fnVariant, fnDecimalPrecise, fnUuid,
    partitionTransforms,
    q1Agg, qJoinDims, qJoinFact, qTopkWindow, qAnalyticWindow, qSortLimit,
    qSetOps, qRollup, qGroupingSets, qRangeFrameWindow, qLateralTopk,
    qDistinctAgg, qSubquery, qSemiJoin, qSessionize,
    qAsofJoin, qAntiJoin, qPivot, qPercentile, qCube,
    qTumblingWindow, qSlidingWindow, qRangeJoin, aggSketches, aggSketchRollup, qStringAgg,
    qFunnel, qHistogram, qIntervalJoin, qRetentionCohort, qEventTransitions,
    qOverlapJoinBinned, qRankFunctions, tsGapFill, qGapIslands, tsRolling7d, qDebounce,
    textStats, textLangId, textFingerprint, textTfidf, textBm25, textBm25Indexed,
    textRepetition,
    textPiiRedact, textQualityFilter, textChunk, textLmScore, textClassifierScore, textHtmlExtract, textNormalize,
    sampleHash, sampleSplit, sampleLeakageSafeSplit, sampleTokenBudget, sampleTopFracBinned,
    sampleStratified, sampleGlobalSeq, sampleMixture, sampleWeighted, sampleUpsampled,
    sampleTemperature,
    pipelineCuration,
    pipelinePacking, pipelineDecontaminate, pipelineContaminationReport,
    pipelineBalancedSample, pipelineSourceCap, textOovRate,
    dedupExact, dedupUrl, dedupPrefix, dedupIncremental, dedupIncrementalBloom,
    dedupMinhash, dedupMinhashPairs,
    dedupMinhashIncremental,
    dedupClusters, dedupClustersStar, dedupClusterSizes, dedupApply,
    dedupSimhash, dedupJaccard, dedupEmbedding, dedupSpans, dedupLines, dedupSemantic,
    knnBrute, knnLsh, knnIvf, knnJoinGraph, embeddingQuantize, embeddingPqCode,
    qSaltedAgg, qSaltedJoin, cdcNewKeyFlag,
    multimodalMeta, multimodalFeatures, multimodalPixelStats, multimodalAudioStats,
    multimodalVideoStats,
    tableStats, erBlockedPairs, textVocab, textBpePairs,
    dmlDelete, dmlDeleteRegion, dmlDeleteRegionKeyed, dmlDeleteScoped, dmlOverwriteRegionKeyed, dmlUpdate, dmlUpdateKeyless, dmlMerge, dmlMergeBySource, dmlOverwriteWhere, dmlV2Delete, dmlV2Overwrite, dmlV2OverwriteDynamic, dmlV2Update, dmlV2Merge, sqlV2LimitPushdown, sqlV2TopNPushdown, sqlV2RegionCount, sqlAnalyzeStats, dmlV2StreamWrite, tableOverwritePartitions, sqlOverwriteStatic, sqlShowPartitions, sqlWapRefs, sqlPrunedConjunction, tableAddFiles, tableDataSourceV1, tableZorderRead, tableRollbackTag, tableWapPublish, tableChangelog, sqlManifestAgg, sqlManifestGroupAgg, sqlLimitTopnPrune, sqlSpjCobucketed, streamV2Table, textBpeTrain, textBpeMerges,
    qualityExpectations, tableBloomLookup)

  def queries: Map[String, QueryFn] = all.map(q => q.name -> q.fn).toMap
  def oracleSql: Map[String, String] = all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
