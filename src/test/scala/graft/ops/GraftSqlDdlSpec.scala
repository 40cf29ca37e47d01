package graft.ops

import graft.SharedSpark
import graft.tables.ManagedTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SQL DDL over graft tables: CREATE / CTAS / DROP TABLE, the column and
  * property ALTERs, TRUNCATE and CALL run as Spark's V2 execs on
  * [[graft.catalog.GraftCatalog]]; views, SHOW/DESCRIBE and the
  * grammar-less verbs run as eager commands ([[graft.plans.ResolveGraftDdl]]).
  */
class GraftSqlDdlSpec extends AnyFunSuite with SharedSpark {

  import graft.catalog.GraftScan.{manifestAnswered => localOnly, servedFiles}

  test("CREATE / ALTER / DROP statements drive the table metadata API") {
    val base = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val b = org.apache.spark.sql.SparkSession.builder()
        .master(base.sparkContext.master)
        .withExtensions(new graft.GraftExtensions().apply(_))
      base.conf.getAll.foreach { case (k, v) => b.config(k, v) }
      val s2 = b.getOrCreate()
      import s2.implicits._
      val wh = java.nio.file.Files.createTempDirectory("graft-sqlddl").toString
      s2.conf.set("spark.graft.warehouse", wh)

      s2.sql("""CREATE TABLE graft.logs (id BIGINT, ts TIMESTAMP, msg STRING)
        |PARTITIONED BY (day(ts), bucket(4, id))
        |TBLPROPERTIES ('graft.identifier-fields'='id', 'write.mor.compact-after-upserts'='8')"""
        .stripMargin)
      val t = ManagedTable.load(s2, wh, "logs").get
      assert(t.meta.identifierFields == Seq("id"))
      assert(t.meta.partitionBy == Seq("day(ts)", "bucket(id,4)"))
      assert(t.meta.properties("write.mor.compact-after-upserts") == "8")
      assert(!t.meta.properties.contains("graft.identifier-fields"))

      // round-trip through DML + read on the created table
      s2.sql("INSERT INTO graft.logs VALUES (1, TIMESTAMP '2024-01-02 03:04:05', 'hello')")
      assert(s2.sql("SELECT msg FROM graft.logs WHERE id = 1").head().getString(0) == "hello")

      // IF NOT EXISTS is a no-op on an existing table; a bare CREATE fails
      s2.sql("CREATE TABLE IF NOT EXISTS graft.logs (x INT)")
      assert(ManagedTable.load(s2, wh, "logs").get.meta.schema.fieldNames.length == 3)
      intercept[Exception] { s2.sql("CREATE TABLE graft.logs (x INT)") }

      // ALTER family
      s2.sql("ALTER TABLE graft.logs ADD COLUMNS (sev INT, origin STRING)")
      assert(ManagedTable.load(s2, wh, "logs").get.meta.schema.fieldNames.toSeq ==
        Seq("id", "ts", "msg", "sev", "origin"))
      s2.sql("ALTER TABLE graft.logs RENAME COLUMN origin TO source")
      s2.sql("ALTER TABLE graft.logs DROP COLUMN sev")
      assert(ManagedTable.load(s2, wh, "logs").get.meta.schema.fieldNames.toSeq ==
        Seq("id", "ts", "msg", "source"))
      s2.sql("ALTER TABLE graft.logs SET TBLPROPERTIES ('write.cluster-by'='id')")
      assert(ManagedTable.load(s2, wh, "logs").get
        .meta.properties("write.cluster-by") == "id")
      // SHOW TBLPROPERTIES: all properties, a named key, a missing key
      val shownProps = s2.sql("SHOW TBLPROPERTIES graft.logs").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(shownProps("write.cluster-by") == "id")
      assert(s2.sql("SHOW TBLPROPERTIES graft.logs ('write.cluster-by')")
        .collect().map(_.getString(1)).toSeq == Seq("id"))
      val eShow = intercept[Exception] {
        s2.sql("SHOW TBLPROPERTIES graft.logs ('nope')").collect()
      }
      assert(eShow.getMessage.contains("no property 'nope'"), eShow.getMessage)
      // UNSET TBLPROPERTIES clears; missing keys are a no-op
      s2.sql("ALTER TABLE graft.logs UNSET TBLPROPERTIES ('write.cluster-by', 'never-set')")
      assert(!ManagedTable.load(s2, wh, "logs").get
        .meta.properties.contains("write.cluster-by"))
      s2.sql("ALTER TABLE graft.logs SET TBLPROPERTIES ('write.cluster-by'='id')")
      // evolved schema reads back with nulls for pre-evolution rows
      assert(s2.sql("SELECT source FROM graft.logs WHERE id = 1").head().isNullAt(0))

      // identifier fields never change through the PROPERTY back door
      // (SET IDENTIFIER FIELDS is the guarded verb)
      val e = intercept[Exception] {
        s2.sql("ALTER TABLE graft.logs SET TBLPROPERTIES ('graft.identifier-fields'='msg')")
      }
      assert(e.getMessage.contains("SET IDENTIFIER FIELDS"))

      // unknown identifier column fails the CREATE up front
      val e2 = intercept[Exception] {
        s2.sql("CREATE TABLE graft.bad (a INT) TBLPROPERTIES ('graft.identifier-fields'='nope')")
      }
      assert(e2.getMessage.contains("not a declared column"))

      // count(*) answered from the manifest when exact (no scan planned)
      s2.sql("INSERT INTO graft.logs VALUES (2, TIMESTAMP '2024-01-03 00:00:00', 'bye', 'x')")
      val fast = s2.sql("SELECT count(*) FROM graft.logs")
      assert(fast.head().getLong(0) == 2)
      assert(localOnly(fast), fast.queryExecution.executedPlan.toString)
      // MoR state (hidden rows possible) falls back to the real plan
      ManagedTable.load(s2, wh, "logs").get
        .deleteWhere(org.apache.spark.sql.functions.col("id") === 2L)
      val slow = s2.sql("SELECT count(*) FROM graft.logs")
      assert(slow.head().getLong(0) == 1)
      assert(!localOnly(slow))

      // CTAS + SQL time travel
      s2.sql("""CREATE TABLE graft.top_logs
        |TBLPROPERTIES ('graft.identifier-fields'='id')
        |AS SELECT id, msg FROM graft.logs""".stripMargin)
      assert(s2.sql("SELECT * FROM graft.top_logs").count() == 1)
      val v1 = ManagedTable.load(s2, wh, "top_logs").get.meta.currentVersion
      s2.sql("INSERT INTO graft.top_logs VALUES (7, 'later')")
      assert(s2.sql("SELECT * FROM graft.top_logs").count() == 2)
      assert(s2.sql(s"SELECT * FROM graft.top_logs VERSION AS OF $v1").count() == 1)
      assert(s2.sql("SELECT * FROM graft.top_logs TIMESTAMP AS OF '2999-01-01'").count() == 2)

      // DESCRIBE + manifest-answered min/max
      val desc = s2.sql("DESCRIBE TABLE graft.logs").collect()
        .map(r => (r.getString(0), r.getString(1)))
      assert(desc.take(4).map(_._1).toSeq == Seq("id", "ts", "msg", "source"))
      assert(desc.exists(_ == ("Part 0", "day(ts)")))
      val descX = s2.sql("DESCRIBE EXTENDED graft.logs").collect()
        .map(r => (r.getString(0), r.getString(1)))
      assert(descX.exists(_ == ("Identifier Fields", "id")))
      assert(descX.exists(_._1 == "write.mor.compact-after-upserts"))
      // min/max over an all-data table answers from identifier bounds,
      // no scan (top_logs: two appends, ids {1, 7})
      val mx = s2.sql("SELECT max(id) FROM graft.top_logs")
      assert(mx.head().getLong(0) == 7L)
      assert(localOnly(mx), mx.queryExecution.executedPlan.toString)
      assert(s2.sql("SELECT min(id) FROM graft.top_logs").head().getLong(0) == 1L)
      // a bound-less column (msg carries no stats) falls back to the real
      // plan and is still correct; MoR tables (logs has a tombstone
      // group) fall back even on the identifier
      val mm = s2.sql("SELECT max(msg) FROM graft.top_logs")
      assert(mm.head().getString(0) == "later")
      assert(!localOnly(mm))
      val mor = s2.sql("SELECT max(id) FROM graft.logs")
      assert(mor.head().getLong(0) == 1L)
      assert(!localOnly(mor))

      // snapshot-at-statement, CONSISTENT on both paths: a retained
      // DataFrame keeps its planned snapshot across later commits
      // whether it was manifest-answered or scan-resolved; only a fresh
      // statement observes new commits
      val pinnedFast = s2.sql("SELECT max(id) FROM graft.top_logs")
      val pinnedScan = s2.sql("SELECT id FROM graft.top_logs")
      assert(pinnedFast.head().getLong(0) == 7L && pinnedScan.count() == 2)
      s2.sql("INSERT INTO graft.top_logs VALUES (99, 'newest')")
      assert(pinnedFast.head().getLong(0) == 7L,
        "manifest-answered aggregate must keep its planned snapshot")
      assert(pinnedScan.count() == 2,
        "scan-resolved relation must keep its planned snapshot")
      assert(s2.sql("SELECT max(id) FROM graft.top_logs").head().getLong(0) == 99L)

      // SHOW TABLES + $partitions metadata
      val shown = s2.sql("SHOW TABLES IN graft").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(shown == Set(("graft", "logs"), ("graft", "top_logs")), shown)
      assert(s2.sql("SHOW TABLES IN graft LIKE 'top*'").count() == 1)
      assert(s2.sql("SHOW TABLES IN graft LIKE 'TOP*'").count() == 1,
        "LIKE globbing must be case-insensitive (Spark semantics)")
      val eDesc = intercept[Exception] {
        s2.sql("DESCRIBE TABLE graft.logs PARTITION (ts='x')")
      }
      assert(eDesc.getMessage.contains("PARTITION is not supported"), eDesc.getMessage)
      val parts = s2.sql("SELECT * FROM graft.`logs$partitions`")
      assert(parts.columns.toSeq ==
        Seq("partition", "n_groups", "n_rows", "min_seq", "max_seq"))
      assert(parts.count() >= 1)

      // TRUNCATE: metadata-only empty commit; old snapshot still travels
      val vPre = ManagedTable.load(s2, wh, "top_logs").get.meta.currentVersion
      s2.sql("TRUNCATE TABLE graft.top_logs")
      assert(s2.sql("SELECT * FROM graft.top_logs").count() == 0)
      assert(s2.sql(s"SELECT * FROM graft.top_logs VERSION AS OF $vPre").count() == 3)
      s2.sql("INSERT INTO graft.top_logs VALUES (8, 'fresh')")
      assert(s2.sql("SELECT * FROM graft.top_logs").count() == 1)

      // SHOW CREATE TABLE round-trips: the emitted statement recreates an
      // equivalent table (schema, spec, ids, user props) in a fresh warehouse
      val stmt = s2.sql("SHOW CREATE TABLE graft.logs").head().getString(0)
      assert(stmt.contains("PARTITIONED BY") && stmt.contains("graft.identifier-fields"))
      // non-nullable columns must survive the round trip
      s2.sql("CREATE TABLE graft.nn (id BIGINT NOT NULL, v STRING) " +
        "TBLPROPERTIES ('graft.identifier-fields'='id')")
      val nnStmt = s2.sql("SHOW CREATE TABLE graft.nn").head().getString(0)
      assert(nnStmt.contains("id BIGINT NOT NULL"), nnStmt)
      val wh2 = java.nio.file.Files.createTempDirectory("graft-sqlddl2").toString
      s2.conf.set("spark.graft.warehouse", wh2)
      try {
        s2.sql(stmt)
        s2.sql(nnStmt)
        val orig = ManagedTable.load(s2, wh, "logs").get.meta
        val re = ManagedTable.load(s2, wh2, "logs").get.meta
        assert(re.schema == orig.schema, s"schema drifted:\n${re.schema}\n${orig.schema}")
        assert(re.partitionBy == orig.partitionBy)
        assert(re.identifierFields == orig.identifierFields)
        assert(re.properties.get("write.cluster-by") == orig.properties.get("write.cluster-by"))
        assert(ManagedTable.load(s2, wh2, "nn").get.meta.schema ==
          ManagedTable.load(s2, wh, "nn").get.meta.schema, "NOT NULL dropped")
        // internal history/bookkeeping props must NOT round-trip
        assert(!stmt.contains("schema.renamed") && !stmt.contains("changelog."))
        assert(!stmt.contains("cdc.last-batch-id"))
      } finally s2.conf.set("spark.graft.warehouse", wh)

      // CALL maintenance procedures (Iceberg stored-procedure analogue)
      s2.sql("""CREATE TABLE graft.mt (id BIGINT, v STRING)
        |TBLPROPERTIES ('graft.identifier-fields'='id',
        |  'write.mor.compact-after-upserts'='0',
        |  'write.versions-retained'='10')""".stripMargin)
      s2.sql("INSERT INTO graft.mt VALUES (1, 'a'), (2, 'b')")
      val vKeep = ManagedTable.load(s2, wh, "mt").get.meta.currentVersion
      s2.sql("UPDATE graft.mt SET v = 'a2' WHERE id = 1")
      s2.sql("UPDATE graft.mt SET v = 'b2' WHERE id = 2")
      // materialize_position_deletes returns the absorbed pair count
      val pd = s2.sql("CALL graft.system.materialize_position_deletes('mt')")
      assert(pd.columns.toSeq == Seq("pairs") && pd.head().getLong(0) >= 1L)
      // compact_minor folds the trickle suffix; compact reports file counts
      val cm = s2.sql("CALL graft.system.compact_minor('mt')").head()
      assert(cm.getLong(0) >= cm.getLong(1))
      val cp = s2.sql("CALL graft.system.compact('mt')").head()
      assert(cp.getLong(1) >= 1L)
      assert(s2.sql("SELECT v FROM graft.mt WHERE id = 1").head().getString(0) == "a2")
      // rollback_to_version restores the pre-update state
      val rb = s2.sql(s"CALL graft.system.rollback_to_version('mt', $vKeep)").head()
      assert(rb.getLong(0) > vKeep) // rollback commits a NEW version
      assert(s2.sql("SELECT v FROM graft.mt WHERE id = 1").head().getString(0) == "a")
      // expire_snapshots with a future cutoff keeps current + tagged only
      val ex = s2.sql("CALL graft.system.expire_snapshots('mt', 9999999999999)").head()
      assert(ex.getLong(0) >= 1L)
      assert(s2.sql("SELECT count(*) FROM graft.mt").head().getLong(0) == 2L)
      // maintenance runs the policy ladder and reports its actions
      val mrows = s2.sql("CALL graft.system.maintenance('mt')")
      assert(mrows.columns.toSeq == Seq("action", "detail"))
      // Iceberg-style named arguments resolve onto the declared slots
      val exN = s2.sql(
        "CALL graft.system.expire_snapshots(older_than => 9999999999999, table => 'mt')")
      assert(exN.head().getLong(0) >= 0L)
      // Spark's procedure-call rules: names, arity, order, duplicates —
      // each refusal leaves the table's history untouched
      val mtVersions = ManagedTable.load(s2, wh, "mt").get.versions()
      val eArg = intercept[Exception] {
        s2.sql("CALL graft.system.compact(nope => 'mt')")
      }
      assert(eArg.getMessage.contains("UNRECOGNIZED_PARAMETER_NAME"), eArg.getMessage)
      assert(intercept[Exception] {
        s2.sql("CALL graft.system.compact('mt', 'junk')")
      }.getMessage.contains("WRONG_NUM_ARGS"))
      assert(intercept[Exception] {
        s2.sql("CALL graft.system.expire_snapshots(table => 'mt', 9999999999999)")
      }.getMessage.contains("UNEXPECTED_POSITIONAL_ARGUMENT"))
      assert(intercept[Exception] {
        s2.sql("CALL graft.system.expire_snapshots('mt', table => 'x')")
      }.getMessage.contains("DUPLICATE_ROUTINE_PARAMETER_ASSIGNMENT"))
      val eProc = intercept[Exception] { s2.sql("CALL graft.system.nope('mt')") }
      assert(eProc.getMessage.contains("unknown procedure"), eProc.getMessage)
      assert(ManagedTable.load(s2, wh, "mt").get.versions() == mtVersions,
        "a refused CALL must not change the table")

      // remove_orphan_files: stale debris goes, referenced groups stay,
      // and a young unreferenced dir (possible in-flight staging) is
      // spared even with an aggressive cutoff
      val mtFiles = new java.io.File(s"$wh/mt/files")
      val stale = new java.io.File(mtFiles, "data-99-stale"); stale.mkdirs()
      stale.setLastModified(System.currentTimeMillis() - 10L * 60 * 1000)
      val fresh = new java.io.File(mtFiles, "data-98-fresh"); fresh.mkdirs()
      val ro = s2.sql("CALL graft.system.remove_orphan_files('mt', 9999999999999)").head()
      assert(ro.getLong(0) == 1L, s"expected 1 removed, got ${ro.getLong(0)}")
      assert(!stale.exists() && fresh.exists())
      assert(s2.sql("SELECT count(*) FROM graft.mt").head().getLong(0) == 2L)
      // a DURATION passed by mistake (3600000 = "1 hour") lands in 1970:
      // fail loudly instead of silently removing nothing
      val eDur = intercept[Exception] {
        s2.sql("CALL graft.system.remove_orphan_files('mt', 3600000)").collect()
      }
      assert(eDur.getMessage.contains("not a duration"), eDur.getMessage)
      // land-time sentinel: an ancient dir mtime (rename-preserved, on a
      // filesystem where setTimes is a no-op) must not get a just-landed
      // group swept — the sentinel's own creation time is the land time
      val landed = new java.io.File(mtFiles, "data-97-landed"); landed.mkdirs()
      new java.io.File(landed, ".landed").createNewFile()
      landed.setLastModified(1000000000000L) // 2001 — sentinel stays fresh
      val ro2 = s2.sql("CALL graft.system.remove_orphan_files('mt', 9999999999999)").head()
      assert(landed.exists(), "fresh sentinel must spare the group from the sweep")
      assert(ro2.getLong(0) == 0L, s"expected 0 removed, got ${ro2.getLong(0)}")
      landed.listFiles().foreach(_.delete()); landed.delete(); fresh.delete()

      // replicate: one commit-exact catch-up, SQL-driven end to end
      s2.sql("""CREATE TABLE graft.mt_rep (id BIGINT, v STRING)
        |TBLPROPERTIES ('graft.identifier-fields'='id')""".stripMargin)
      val r1 = s2.sql("CALL graft.system.replicate('mt', 'mt_rep')").head()
      assert(r1.getLong(0) == ManagedTable.load(s2, wh, "mt").get.meta.currentVersion)
      s2.sql("UPDATE graft.mt SET v = 'a3' WHERE id = 1")
      s2.sql("DELETE FROM graft.mt WHERE id = 2")
      s2.sql("CALL graft.system.replicate(source => 'mt', target => 'mt_rep')")
      val repRows = s2.sql("SELECT id, v FROM graft.mt_rep ORDER BY id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(repRows == Seq((1L, "a3")), s"replica state: $repRows")
      s2.sql("DROP TABLE graft.mt_rep")

      // DROP TABLE
      s2.sql("DROP TABLE graft.mt")
      s2.sql("DROP TABLE graft.top_logs")
      s2.sql("DROP TABLE graft.logs")
      assert(ManagedTable.load(s2, wh, "logs").isEmpty)
      s2.sql("DROP TABLE IF EXISTS graft.logs") // no-op
      intercept[Exception] { s2.sql("DROP TABLE graft.logs") }
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(base)
      org.apache.spark.sql.SparkSession.setActiveSession(base)
    }
  }

  test("partition-spec evolution, identifier fields and write order through SQL DDL") {
    val base = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val b = org.apache.spark.sql.SparkSession.builder()
        .master(base.sparkContext.master)
        .withExtensions(new graft.GraftExtensions().apply(_))
      base.conf.getAll.foreach { case (k, v) => b.config(k, v) }
      val s2 = b.getOrCreate()
      val wh = java.nio.file.Files.createTempDirectory("graft-pfddl").toString
      s2.conf.set("spark.graft.warehouse", wh)

      s2.sql("""CREATE TABLE graft.ev (id BIGINT, grp INT, v STRING)
        |PARTITIONED BY (grp)
        |TBLPROPERTIES ('graft.identifier-fields'='id')""".stripMargin)
      s2.sql("INSERT INTO graft.ev VALUES (1, 0, 'a'), (2, 1, 'b')")

      // ADD PARTITION FIELD: metadata-only epoch boundary; old groups stay
      s2.sql("ALTER TABLE graft.ev ADD PARTITION FIELD bucket(4, id)")
      assert(ManagedTable.load(s2, wh, "ev").get.meta.partitionBy ==
        Seq("grp", "bucket(id,4)"))
      s2.sql("INSERT INTO graft.ev VALUES (3, 0, 'c')")
      assert(s2.sql("SELECT id FROM graft.ev").collect().map(_.getLong(0)).toSet ==
        Set(1L, 2L, 3L), "cross-epoch reads stay exact")
      // duplicate field refuses precisely
      val eDup = intercept[Exception] {
        s2.sql("ALTER TABLE graft.ev ADD PARTITION FIELD bucket(8, id)")
      }
      assert(eDup.getMessage.contains("already exists"), eDup.getMessage)

      // REPLACE PARTITION FIELD: rebucket in ONE epoch boundary
      s2.sql("ALTER TABLE graft.ev REPLACE PARTITION FIELD bucket(4, id) WITH bucket(8, id)")
      assert(ManagedTable.load(s2, wh, "ev").get.meta.partitionBy ==
        Seq("grp", "bucket(id,8)"))

      // REPLACE by the field's DERIVED NAME (id_bucket) resolves too —
      // derived names are not schema columns, so this exercises the
      // current-spec-name resolution path, not the transform parse
      s2.sql("ALTER TABLE graft.ev REPLACE PARTITION FIELD id_bucket WITH bucket(16, id)")
      assert(ManagedTable.load(s2, wh, "ev").get.meta.partitionBy ==
        Seq("grp", "bucket(id,16)"))
      // DROP by derived name
      s2.sql("ALTER TABLE graft.ev DROP PARTITION FIELD id_bucket")
      assert(ManagedTable.load(s2, wh, "ev").get.meta.partitionBy == Seq("grp"))
      s2.sql("ALTER TABLE graft.ev ADD PARTITION FIELD bucket(8, id)")

      // DROP PARTITION FIELD (by transform form) — identity source drops too
      s2.sql("ALTER TABLE graft.ev DROP PARTITION FIELD grp")
      assert(ManagedTable.load(s2, wh, "ev").get.meta.partitionBy == Seq("bucket(id,8)"))
      val eNo = intercept[Exception] {
        s2.sql("ALTER TABLE graft.ev DROP PARTITION FIELD grp")
      }
      assert(eNo.getMessage.contains("no partition field"), eNo.getMessage)
      val eBad = intercept[Exception] {
        s2.sql("ALTER TABLE graft.ev ADD PARTITION FIELD wat(id)")
      }
      assert(eBad.getMessage.contains("unsupported partition transform"), eBad.getMessage)
      val eCol = intercept[Exception] {
        s2.sql("ALTER TABLE graft.ev ADD PARTITION FIELD day(nope)")
      }
      assert(eCol.getMessage.contains("not in schema"), eCol.getMessage)
      s2.sql("INSERT INTO graft.ev VALUES (4, 2, 'd')")
      assert(s2.sql("SELECT count(*) c FROM graft.ev WHERE grp >= 0").head().getLong(0) == 4)

      // SET IDENTIFIER FIELDS: plain-data tables re-key; case-insensitive
      s2.sql("ALTER TABLE graft.ev SET IDENTIFIER FIELDS ID, grp")
      assert(ManagedTable.load(s2, wh, "ev").get.meta.identifierFields == Seq("id", "grp"))
      // …but live MoR state refuses (old-key delete scopes would reinterpret)
      s2.sql("UPDATE graft.ev SET v = 'u' WHERE id = 1 AND grp = 0")
      val eKey = intercept[Exception] {
        s2.sql("ALTER TABLE graft.ev SET IDENTIFIER FIELDS id")
      }
      assert(eKey.getMessage.contains("re-key"), eKey.getMessage)
      val eKey2 = intercept[Exception] {
        s2.sql("ALTER TABLE graft.ev SET IDENTIFIER FIELDS nope")
      }
      assert(eKey2.getMessage.contains("not a column"), eKey2.getMessage)

      // WRITE ORDERED BY: lands in write.sort-order, shapes the write path
      s2.sql("CREATE TABLE graft.ord (id BIGINT, v BIGINT)")
      s2.sql("ALTER TABLE graft.ord WRITE ORDERED BY v DESC, id")
      val tOrd = ManagedTable.load(s2, wh, "ord").get
      assert(tOrd.meta.properties("write.sort-order") == "v DESC,id ASC")
      import s2.implicits._
      tOrd.append(s2.createDataset((1L to 100L).map(i => (i, i * 7L % 101L)))
        .toDF("id", "v").repartition(1))
      val file = ManagedTable.load(s2, wh, "ord").get.read().inputFiles.head
      val written = s2.read.parquet(file).select("v").collect().map(_.getLong(0)).toSeq
      assert(written == written.sorted(Ordering[Long].reverse),
        "files must be laid out in the declared write order")
      s2.sql("ALTER TABLE graft.ord WRITE UNORDERED")
      assert(!ManagedTable.load(s2, wh, "ord").get
        .meta.properties.contains("write.sort-order"))
      val eOrd = intercept[Exception] {
        s2.sql("ALTER TABLE graft.ord WRITE ORDERED BY nope")
      }
      assert(eOrd.getMessage.contains("not a column"), eOrd.getMessage)

      // SHOW CREATE TABLE reflects the evolved definition (current spec,
      // current identifier fields, write order as a property)
      s2.sql("ALTER TABLE graft.ord WRITE ORDERED BY v")
      val stmt = s2.sql("SHOW CREATE TABLE graft.ord").head().getString(0)
      assert(stmt.contains("'write.sort-order'='v ASC'"), stmt)
      val stmtEv = s2.sql("SHOW CREATE TABLE graft.ev").head().getString(0)
      assert(stmtEv.contains("PARTITIONED BY (bucket(8, id))"), stmtEv)
      assert(stmtEv.contains("'graft.identifier-fields'='id,grp'"), stmtEv)

      // unknown table fails precisely at execution
      val eMiss = intercept[Exception] {
        s2.sql("ALTER TABLE graft.nope ADD PARTITION FIELD day(ts)")
      }
      assert(eMiss.getMessage.contains("does not exist"), eMiss.getMessage)
      s2.sql("DROP TABLE graft.ord")
      s2.sql("DROP TABLE graft.ev")
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(base)
      org.apache.spark.sql.SparkSession.setActiveSession(base)
    }
  }

  test("SHOW PARTITIONS: manifest-answered tuples, identity filter, refusals") {
    val base = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val b = org.apache.spark.sql.SparkSession.builder()
        .master(base.sparkContext.master)
        .withExtensions(new graft.GraftExtensions().apply(_))
      base.conf.getAll.foreach { case (k, v) => b.config(k, v) }
      val s2 = b.getOrCreate()
      val wh = java.nio.file.Files.createTempDirectory("graft-showpart").toString
      s2.conf.set("spark.graft.warehouse", wh)

      s2.sql("CREATE TABLE graft.sp (id BIGINT, g INT, m STRING) PARTITIONED BY (g, bucket(2, id))")
      s2.sql("INSERT INTO graft.sp SELECT id, cast(id % 3 as int), concat('m', id) FROM range(0, 30)")
      val rows = s2.sql("SHOW PARTITIONS graft.sp").collect().map(_.getString(0))
      // spec-ordered k=v strings, sorted; both bucket values present per g
      assert(rows.forall(_.matches("g=\\d/id_bucket=\\d")), rows.mkString(","))
      assert(rows.length == rows.distinct.length && rows.sorted.sameElements(rows))
      assert(rows.count(_.startsWith("g=1/")) >= 1)
      // identity filter narrows to the named region (all buckets of g=1)
      val g1 = s2.sql("SHOW PARTITIONS graft.sp PARTITION (g=1)").collect().map(_.getString(0))
      assert(g1.nonEmpty && g1.forall(_.startsWith("g=1/")), g1.mkString(","))
      assert(g1.toSet == rows.filter(_.startsWith("g=1/")).toSet)
      // the statement is metadata-answered: its plan has no file scan
      val plan = s2.sql("SHOW PARTITIONS graft.sp").queryExecution.optimizedPlan
      assert(plan.collectLeaves().forall(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]), plan)
      // derived-transform filter keys are refused with a pointer
      val eB = intercept[Exception] { s2.sql("SHOW PARTITIONS graft.sp PARTITION (id=1)") }
      assert(eB.getMessage.contains("identity partition source"), eB.getMessage)
      // value that cannot cast to the source type is refused
      val eC = intercept[Exception] { s2.sql("SHOW PARTITIONS graft.sp PARTITION (g='x')") }
      assert(eC.getMessage != null)
      // unpartitioned tables and views are refused precisely
      s2.sql("CREATE TABLE graft.flat (id BIGINT)")
      val eF = intercept[Exception] { s2.sql("SHOW PARTITIONS graft.flat") }
      assert(eF.getMessage.contains("not a partitioned table"), eF.getMessage)
      s2.sql("CREATE VIEW graft.vsp AS SELECT * FROM graft.sp")
      val eV = intercept[Exception] { s2.sql("SHOW PARTITIONS graft.vsp") }
      assert(eV.getMessage.contains("is a view"), eV.getMessage)
      // TRUNCATE ... PARTITION: the named region's groups drop at
      // metadata cost; other partitions untouched; refusals match the
      // INSERT ... PARTITION rules
      s2.sql("TRUNCATE TABLE graft.sp PARTITION (g=1)")
      assert(s2.sql("SELECT count(*) c FROM graft.sp WHERE g = 1").head().getLong(0) == 0)
      assert(s2.sql("SELECT count(*) c FROM graft.sp WHERE g = 2").head().getLong(0) == 10)
      val afterTrunc = s2.sql("SHOW PARTITIONS graft.sp").collect().map(_.getString(0))
      assert(afterTrunc.nonEmpty && !afterTrunc.exists(_.startsWith("g=1/")), afterTrunc.mkString(","))
      val eT = intercept[Exception] { s2.sql("TRUNCATE TABLE graft.sp PARTITION (id=1)") }
      assert(eT.getMessage.contains("identity partition source"), eT.getMessage)
      // partition VALUES containing '/' or '=' must render escaped (the
      // path writer's own escaping) — never an ambiguous k=v/k2=v2 row
      s2.sql("CREATE TABLE graft.spx (id BIGINT, tag STRING) PARTITIONED BY (tag)")
      s2.sql("INSERT INTO graft.spx VALUES (1, 'a/b=c'), (2, 'plain')")
      val xs = s2.sql("SHOW PARTITIONS graft.spx").collect().map(_.getString(0)).sorted
      assert(xs.toSeq == Seq("tag=a%2Fb%3Dc", "tag=plain"), xs.mkString(","))
      s2.sql("DROP TABLE graft.spx")
      s2.sql("DROP VIEW graft.vsp"); s2.sql("DROP TABLE graft.flat"); s2.sql("DROP TABLE graft.sp")
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(base)
      org.apache.spark.sql.SparkSession.setActiveSession(base)
    }
  }

  test("VERSION AS OF resolves tags and WAP branches; unknown refs fail with the live names") {
    val base = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val b = org.apache.spark.sql.SparkSession.builder()
        .master(base.sparkContext.master)
        .withExtensions(new graft.GraftExtensions().apply(_))
      base.conf.getAll.foreach { case (k, v) => b.config(k, v) }
      val s2 = b.getOrCreate()
      val wh = java.nio.file.Files.createTempDirectory("graft-ttref").toString
      s2.conf.set("spark.graft.warehouse", wh)

      s2.sql("CREATE TABLE graft.tt (id BIGINT, v STRING) " +
        "TBLPROPERTIES ('write.versions-retained'='2')")
      s2.sql("INSERT INTO graft.tt VALUES (1, 'a'), (2, 'b')")
      val t = ManagedTable.load(s2, wh, "tt").get
      t.tag("v1-validated")
      val tagged = t.meta.currentVersion

      // numeric version still works; tag name resolves to the same snapshot
      s2.sql("INSERT INTO graft.tt VALUES (3, 'c')")
      assert(s2.sql(s"SELECT * FROM graft.tt VERSION AS OF $tagged").count() == 2)
      assert(s2.sql("SELECT * FROM graft.tt VERSION AS OF 'v1-validated'").count() == 2)
      assert(s2.sql("SELECT * FROM graft.tt").count() == 3)

      // the tag outlives the retention window (2): pile on commits, the
      // numeric read of an expired sibling dies but the tag still reads
      (4 to 8).foreach(i => s2.sql(s"INSERT INTO graft.tt VALUES ($i, 'x')"))
      assert(s2.sql("SELECT * FROM graft.tt VERSION AS OF 'v1-validated'").count() == 2,
        "a tagged snapshot must survive snapshot expiry")

      // WAP branch: staged rows visible ONLY through the branch ref
      import s2.implicits._
      val t2 = ManagedTable.load(s2, wh, "tt").get
      t2.stageAppend(Seq((100L, "staged")).toDF("id", "v"), "audit")
      assert(s2.sql("SELECT * FROM graft.tt VERSION AS OF 'audit'").count() == 9)
      assert(s2.sql("SELECT * FROM graft.tt").count() == 8,
        "plain reads must not see staged branch rows")

      // a name that is neither tag nor branch fails with the live refs
      val e = intercept[Exception] {
        s2.sql("SELECT * FROM graft.tt VERSION AS OF 'nope'").collect()
      }
      assert(e.getMessage.contains("unknown version ref") &&
        e.getMessage.contains("v1-validated") && e.getMessage.contains("audit"),
        e.getMessage)
      s2.sql("DROP TABLE graft.tt")
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(base)
      org.apache.spark.sql.SparkSession.setActiveSession(base)
    }
  }

  test("WAP in SQL: branch DDL, wap.branch staging + reads, publish atomic, abandon frees, tag DDL") {
    val base = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val b = org.apache.spark.sql.SparkSession.builder()
        .master(base.sparkContext.master)
        .withExtensions(new graft.GraftExtensions().apply(_))
      base.conf.getAll.foreach { case (k, v) => b.config(k, v) }
      val s2 = b.getOrCreate()
      val wh = java.nio.file.Files.createTempDirectory("graft-wapsql").toString
      s2.conf.set("spark.graft.warehouse", wh)

      s2.sql("CREATE TABLE graft.wap (id BIGINT, v STRING) " +
        "TBLPROPERTIES ('graft.identifier-fields'='id')")
      s2.sql("INSERT INTO graft.wap VALUES (1, 'live')")
      s2.sql("ALTER TABLE graft.wap CREATE BRANCH audit")
      assert(ManagedTable.load(s2, wh, "wap").get.branches() == Seq("audit"))

      // wap.branch context: INSERTs stage, reads see the branch view;
      // tables WITHOUT the branch are untouched by the conf
      s2.conf.set("spark.wap.branch", "audit")
      s2.sql("INSERT INTO graft.wap VALUES (2, 'staged'), (3, 'staged')")
      s2.sql("INSERT INTO graft.wap VALUES (4, 'staged2')") // accumulates
      assert(s2.sql("SELECT * FROM graft.wap").count() == 4,
        "reads under wap.branch must see the staged view")
      assert(s2.sql("SELECT * FROM graft.wap WHERE id = 4").count() == 1,
        "filtered reads under wap.branch must see the staged view too")
      assert(s2.sql("SELECT count(*) FROM graft.wap").head().getLong(0) == 4,
        "manifest-answered count must not bypass the branch view")
      val eOver = intercept[Exception] {
        s2.sql("INSERT OVERWRITE graft.wap VALUES (9, 'x')")
      }
      assert(eOver.getMessage.contains("not overwrites"), eOver.getMessage)
      // TRUNCATE under an active wap branch refuses like <cat>.<t>: it
      // would empty the LIVE table mid-audit (the live count is checked
      // after the branch is unset below)
      val eTrunc = intercept[Exception] { s2.sql("TRUNCATE TABLE graft.wap") }
      assert(eTrunc.getMessage.contains("cannot target WAP branch"), eTrunc.getMessage)
      // row-level DML under an active wap branch STAGES onto the branch
      // (round 9, Iceberg's branch-targeted DML): the audit workflow can
      // correct staged rows in place, the live table stays untouched
      s2.sql("DELETE FROM graft.wap WHERE id = 2")      // staged row
      s2.sql("UPDATE graft.wap SET v = 'fixed' WHERE id = 3")
      assert(s2.sql("SELECT * FROM graft.wap").count() == 3,
        "the branch view must reflect the staged delete")
      assert(s2.sql("SELECT v FROM graft.wap WHERE id = 3")
        .head().getString(0) == "fixed",
        "the branch view must reflect the staged update")
      // MERGE under the branch: update a staged row, insert a new one
      s2.sql("SELECT * FROM VALUES (CAST(4 AS BIGINT), 'merged'), " +
        "(CAST(5 AS BIGINT), 'new') AS v(id, v)").createOrReplaceTempView("mupd")
      s2.sql("""MERGE INTO graft.wap t USING mupd s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      // a LIVE row deleted under the branch: staged verdict, live intact
      s2.sql("DELETE FROM graft.wap WHERE id = 1")
      val branchIds = s2.sql("SELECT id, v FROM graft.wap").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(branchIds == Set((3L, "fixed"), (4L, "merged"), (5L, "new")),
        s"branch view after DML battery: $branchIds")
      s2.conf.unset("spark.wap.branch")
      assert(s2.sql("SELECT * FROM graft.wap").count() == 1,
        "the live table must not see staged rows OR staged DML")
      assert(s2.sql("SELECT id FROM graft.wap").head().getLong(0) == 1L,
        "a live row deleted on the branch must stay live until publish")
      assert(s2.sql("SELECT * FROM graft.`wap$branch_audit`").count() == 3)
      assert(s2.sql("SELECT * FROM graft.wap VERSION AS OF 'audit'").count() == 3)

      // publish is atomic and metadata-shaped (multi-batch adopt-in-place
      // lands the pointer past every staged seq); the branch is gone after
      val branchFiles = servedFiles(s2.sql("SELECT * FROM graft.`wap$branch_audit`"))
      val pub = s2.sql("CALL graft.system.publish_branch('wap', 'audit')")
      assert(pub.columns.toSeq == Seq("published_version"))
      val postPub = s2.sql("SELECT id, v FROM graft.wap").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(postPub == Set((3L, "fixed"), (4L, "merged"), (5L, "new")),
        s"publish must fold the staged DML in: $postPub")
      assert(ManagedTable.load(s2, wh, "wap").get.branches().isEmpty)
      // adopt-in-place: a single-writer multi-batch DML branch publishes
      // METADATA-ONLY — the live read after publish opens exactly the
      // files the branch view opened, no group re-stamped or copied
      val postFiles = servedFiles(s2.sql("SELECT * FROM graft.wap"))
      assert(postFiles == branchFiles,
        s"publish must adopt staged groups in place: " +
          s"new=${(postFiles -- branchFiles).size} lost=${(branchFiles -- postFiles).size}")

      // abandon: staged rows AND staged DML never reach the live table
      s2.sql("ALTER TABLE graft.wap CREATE BRANCH risky")
      s2.conf.set("spark.wap.branch", "risky")
      s2.sql("INSERT INTO graft.wap VALUES (99, 'bad')")
      s2.sql("DELETE FROM graft.wap WHERE id = 3") // staged verdict only
      s2.conf.unset("spark.wap.branch")
      s2.sql("ALTER TABLE graft.wap DROP BRANCH risky")
      assert(s2.sql("SELECT id FROM graft.wap").collect()
        .map(_.getLong(0)).toSet == Set(3L, 4L, 5L),
        "abandon must discard staged DML (id=3 survives)")
      assert(ManagedTable.load(s2, wh, "wap").get.branches().isEmpty)

      // tag DDL: CREATE TAG [AS OF VERSION], DROP TAG; misuse is precise
      s2.sql("ALTER TABLE graft.wap CREATE TAG approved")
      assert(s2.sql("SELECT * FROM graft.wap VERSION AS OF 'approved'").count() == 3)
      val vNow = ManagedTable.load(s2, wh, "wap").get.meta.currentVersion
      s2.sql(s"ALTER TABLE graft.wap CREATE TAG pinned AS OF VERSION $vNow")
      assert(ManagedTable.load(s2, wh, "wap").get.tags()("pinned") == vNow)
      s2.sql("ALTER TABLE graft.wap DROP TAG pinned")
      assert(!ManagedTable.load(s2, wh, "wap").get.tags().contains("pinned"))
      val eAsOf = intercept[Exception] {
        s2.sql("ALTER TABLE graft.wap CREATE BRANCH b2 AS OF VERSION 1")
      }
      assert(eAsOf.getMessage.contains("applies only to"), eAsOf.getMessage)
      val eNoTbl = intercept[Exception] {
        s2.sql("ALTER TABLE graft.nope CREATE BRANCH b").collect()
      }
      assert(eNoTbl.getMessage.contains("does not exist"), eNoTbl.getMessage)
      s2.sql("DROP TABLE graft.wap")
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(base)
      org.apache.spark.sql.SparkSession.setActiveSession(base)
    }
  }

  test("SHOW CREATE TABLE reconstructs round-8 surfaces; refs ride $refs; markers excluded") {
    val base = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val b = org.apache.spark.sql.SparkSession.builder()
        .master(base.sparkContext.master)
        .withExtensions(new graft.GraftExtensions().apply(_))
      base.conf.getAll.foreach { case (k, v) => b.config(k, v) }
      val s2 = b.getOrCreate()
      val wh = java.nio.file.Files.createTempDirectory("graft-sct8").toString
      s2.conf.set("spark.graft.warehouse", wh)
      s2.sql("""CREATE TABLE graft.r8 (id BIGINT, grp INT, v STRING)
        |PARTITIONED BY (grp)
        |TBLPROPERTIES ('graft.identifier-fields'='id',
        |  'write.format-default'='orc',
        |  'delete.keyed-region-mode'='tombstone')""".stripMargin)
      s2.sql("INSERT INTO graft.r8 VALUES (1, 0, 'a'), (2, 1, 'b')")
      s2.sql("ALTER TABLE graft.r8 CREATE TAG pin")
      s2.sql("ALTER TABLE graft.r8 CREATE BRANCH audit")
      // a sink marker lands on the table (exactly-once bookkeeping)
      ManagedTable.load(s2, wh, "r8").get
        .setProperties(Map("sink.last-batch-id.abcd" -> "7"))
      val stmt = s2.sql("SHOW CREATE TABLE graft.r8").head().getString(0)
      // round-8 DEFINITION properties round-trip…
      assert(stmt.contains("'write.format-default'='orc'"), stmt)
      assert(stmt.contains("'delete.keyed-region-mode'='tombstone'"), stmt)
      // …history and progress markers do not (replaying a batch-id marker
      // onto a fresh table would refuse the new stream's batch 0)
      assert(!stmt.contains("sink.last-batch-id"), stmt)
      assert(!stmt.contains("ref.tag") && !stmt.contains("ref.branch"), stmt)
      // the refs themselves are reconstructable from $refs (name, type,
      // version — everything CREATE TAG/BRANCH ... AS OF VERSION needs)
      val refs = s2.sql("SELECT name, type, version FROM graft.`r8$refs`")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(refs == Set(("pin", "tag"), ("audit", "branch")), refs.toString)
      // executing the emitted statement on a fresh warehouse yields a
      // table whose ORC setting is EFFECTIVE, not just recorded
      val wh2 = java.nio.file.Files.createTempDirectory("graft-sct8b").toString
      s2.conf.set("spark.graft.warehouse", wh2)
      try {
        s2.sql(stmt)
        s2.sql("INSERT INTO graft.r8 VALUES (9, 2, 'z')")
        val re = ManagedTable.load(s2, wh2, "r8").get
        assert(re.meta.properties("write.format-default") == "orc")
        assert(re.meta.properties("delete.keyed-region-mode") == "tombstone")
        assert(re.read().inputFiles.nonEmpty &&
          re.read().inputFiles.forall(_.endsWith(".orc")),
          re.read().inputFiles.mkString(","))
        assert(re.read().count() == 1)
      } finally s2.conf.unset("spark.graft.warehouse")
      ()
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(base)
      org.apache.spark.sql.SparkSession.setActiveSession(base)
    }
  }

  test("CREATE [TEMP] VIEW over graft SQL: create/query/drop, time travel, refusals") {
    val base = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val b = org.apache.spark.sql.SparkSession.builder()
        .master(base.sparkContext.master)
        .withExtensions(new graft.GraftExtensions().apply(_))
      base.conf.getAll.foreach { case (k, v) => b.config(k, v) }
      val s2 = b.getOrCreate()
      import s2.implicits._
      val wh = java.nio.file.Files.createTempDirectory("graft-sqlview").toString
      s2.conf.set("spark.graft.warehouse", wh)

      val df = (1 to 20).map(i => (i.toLong, s"n$i", i * 10.0)).toDF("id", "name", "v")
      val t = ManagedTable.create(s2, wh, "vt", df.schema, Seq("id"),
        properties = Map("write.versions-retained" -> "10"))
      t.append(df) // v1
      t.updateWhere(col("id") === 1, Map("v" -> lit(999.0))) // v2

      // persisted view over graft SQL; re-resolves per reference
      s2.sql("CREATE VIEW graft.big AS SELECT id, v FROM graft.vt WHERE v > 100")
      assert(s2.sql("SELECT count(*) AS n FROM graft.big").head().getLong(0) == 11,
        "ids 11..20 plus the updated id=1 at 999")
      s2.sql("DELETE FROM graft.vt WHERE id = 15")
      assert(s2.sql("SELECT count(*) AS n FROM graft.big").head().getLong(0) == 10,
        "the view must see the CURRENT table state, not a frozen plan")

      // time travel INSIDE a view body pins the version the body names
      s2.sql("CREATE VIEW graft.big_v1 AS SELECT id, v FROM graft.`vt$v1` WHERE v > 100")
      assert(s2.sql("SELECT count(*) AS n FROM graft.big_v1").head().getLong(0) == 10,
        "v1 has ids 11..20 above 100 (no id=1 update yet)")

      // nested views expand recursively
      s2.sql("CREATE VIEW graft.big2 AS SELECT id FROM graft.big WHERE id > 12")
      assert(s2.sql("SELECT count(*) AS n FROM graft.big2").head().getLong(0) == 7,
        "13,14,16..20 (15 deleted)")

      // OR REPLACE changes the definition; plain CREATE on existing fails
      val eDup = intercept[Exception] {
        s2.sql("CREATE VIEW graft.big AS SELECT id FROM graft.vt") }
      assert(eDup.getMessage.contains("already exists"), eDup.getMessage)
      s2.sql("CREATE OR REPLACE VIEW graft.big AS SELECT id, v FROM graft.vt WHERE v > 150")
      assert(s2.sql("SELECT count(*) AS n FROM graft.big").head().getLong(0) == 6,
        "replaced body: ids 16..20 plus id=1 at 999 (15 deleted)")

      // TEMP views ride Spark's session machinery over graft relations
      s2.sql("CREATE TEMP VIEW tmp_big AS SELECT id FROM graft.vt WHERE v > 150")
      assert(s2.sql("SELECT count(*) AS n FROM tmp_big").head().getLong(0) ==
        s2.sql("SELECT count(*) AS n FROM graft.big").head().getLong(0))

      // DML through a view is refused with a precise error, nothing mutated
      for (stmt <- Seq(
        "DELETE FROM graft.big WHERE id = 16",
        "UPDATE graft.big SET v = 0 WHERE id = 16",
        "INSERT INTO graft.big VALUES (99, 0.0)",
        "MERGE INTO graft.big AS t USING graft.vt AS s ON t.id = s.id WHEN MATCHED THEN DELETE")) {
        val e = intercept[Exception] { s2.sql(stmt) }
        assert(e.getMessage.contains("is a view"), s"$stmt → ${e.getMessage}")
      }
      assert(s2.sql("SELECT count(*) AS n FROM graft.vt").head().getLong(0) == 19)

      // a broken body fails at CREATE, not first use
      intercept[Exception] {
        s2.sql("CREATE VIEW graft.broken AS SELECT nope FROM graft.vt") }
      assert(s2.sql("SHOW TABLES IN graft").collect()
        .map(_.getString(1)).toSet == Set("vt", "big", "big_v1", "big2"),
        "SHOW TABLES lists tables and persisted views, not the failed one")

      // cyclic definitions are a precise error (created via OR REPLACE —
      // creation-time analysis sees the old self-free body)
      s2.sql("CREATE VIEW graft.cyc AS SELECT id FROM graft.vt")
      s2.sql("CREATE OR REPLACE VIEW graft.cyc AS SELECT id FROM graft.cyc")
      val eCyc = intercept[Exception] { s2.sql("SELECT * FROM graft.cyc") }
      assert(eCyc.getMessage.contains("cyclic view reference"), eCyc.getMessage)

      // name collisions both ways; DROP picks the right namespace
      val eTbl = intercept[Exception] {
        s2.sql("CREATE VIEW graft.vt AS SELECT 1 AS x") }
      assert(eTbl.getMessage.contains("managed table with this name"), eTbl.getMessage)
      val eCt = intercept[Exception] {
        s2.sql("CREATE TABLE graft.big (x INT)") }
      assert(eCt.getMessage.contains("a view with this name exists"), eCt.getMessage)
      val eDropT = intercept[Exception] { s2.sql("DROP TABLE graft.big") }
      assert(eDropT.getMessage.contains("use DROP VIEW"), eDropT.getMessage)
      val eDropV = intercept[Exception] { s2.sql("DROP VIEW graft.vt") }
      assert(eDropV.getMessage.contains("use DROP TABLE"), eDropV.getMessage)

      s2.sql("DROP VIEW graft.big2")
      s2.sql("DROP VIEW IF EXISTS graft.big2") // no-op
      intercept[Exception] { s2.sql("DROP VIEW graft.big2") }
      intercept[Exception] { s2.sql("SELECT * FROM graft.big2") }

      // a backticked traversal name must hit the name guard, never the
      // filesystem (deleting outside _views/ via _views/../x.sql)
      val eTrav = intercept[Exception] { s2.sql("DROP VIEW graft.`../vt`") }
      assert(eTrav.getMessage.contains("invalid view name"), eTrav.getMessage)
      assert(ManagedTable.load(s2, wh, "vt").isDefined, "traversal touched the table")

      // SHOW CREATE TABLE on a view emits a re-runnable CREATE VIEW
      val stmt = s2.sql("SHOW CREATE TABLE graft.big").head().getString(0)
      assert(stmt.startsWith("CREATE VIEW graft.big AS"), stmt)
      val before = s2.sql("SELECT count(*) AS n FROM graft.big").head().getLong(0)
      s2.sql("DROP VIEW graft.big")
      s2.sql(stmt)
      assert(s2.sql("SELECT count(*) AS n FROM graft.big").head().getLong(0) == before,
        "SHOW CREATE round-trip changed the view")

      // DESCRIBE on a view reports the body's current resolved schema
      val desc = s2.sql("DESCRIBE graft.big").collect()
        .map(r => (r.getString(0), r.getString(1)))
      assert(desc.toSeq == Seq(("id", "bigint"), ("v", "double")), desc.toSeq.toString)
      val descExt = s2.sql("DESCRIBE EXTENDED graft.big").collect()
        .map(_.getString(0))
      assert(descExt.contains("View Text"), descExt.toSeq.toString)

      // ALTER VIEW ... AS replaces the definition in place
      s2.sql("ALTER VIEW graft.big AS SELECT id FROM graft.vt WHERE v > 190")
      assert(s2.sql("SELECT count(*) AS n FROM graft.big").head().getLong(0) == 2,
        "id=20 (200) and id=1 (999)")
      val eAlterT = intercept[Exception] {
        s2.sql("ALTER VIEW graft.vt AS SELECT 1 AS x") }
      assert(eAlterT.getMessage.contains("is a managed table"), eAlterT.getMessage)
      intercept[Exception] {
        s2.sql("ALTER VIEW graft.no_such AS SELECT 1 AS x") }
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(base)
      org.apache.spark.sql.SparkSession.setActiveSession(base)
    }
  }

  /** A session with the extensions over a fresh warehouse. */
  private def withGraftSession(f: (org.apache.spark.sql.SparkSession, String) => Unit): Unit = {
    val base = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val b = org.apache.spark.sql.SparkSession.builder()
        .master(base.sparkContext.master)
        .withExtensions(new graft.GraftExtensions().apply(_))
      base.conf.getAll.foreach { case (k, v) => b.config(k, v) }
      val s2 = b.getOrCreate()
      val wh = java.nio.file.Files.createTempDirectory("graft-sqlddl-v2").toString
      s2.conf.set("spark.graft.warehouse", wh)
      f(s2, wh)
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(base)
      org.apache.spark.sql.SparkSession.setActiveSession(base)
    }
  }

  test("graft.<t> table DDL executes as Spark's V2 execs on GraftCatalog / GraftV2Table") {
    withGraftSession { (s2, wh) =>
      // the physical node an eager statement ran, and whether it holds
      // the catalog (or, for TRUNCATE, the catalog's table)
      def exec(sql: String): org.apache.spark.sql.execution.SparkPlan =
        s2.sql(sql).queryExecution.commandExecuted match {
          case c: org.apache.spark.sql.catalyst.plans.logical.CommandResult =>
            c.commandPhysicalPlan
          case other => fail(s"not an eager command: $other")
        }
      def check(sql: String, execName: String): Unit = {
        val p = exec(sql)
        assert(p.getClass.getSimpleName == execName, s"$sql planned $p")
        assert(p.productIterator.exists {
          case _: graft.catalog.GraftCatalog | _: graft.catalog.GraftV2Table => true
          case _ => false
        }, s"$sql did not run on the catalog: $p")
      }
      check("""CREATE TABLE graft.k (id BIGINT, ts TIMESTAMP, msg STRING)
        |PARTITIONED BY (day(ts), bucket(4, id))
        |TBLPROPERTIES ('graft.identifier-fields'='id')""".stripMargin, "CreateTableExec")
      val m = ManagedTable.load(s2, wh, "k").get.meta
      assert(m.identifierFields == Seq("id"))
      assert(m.partitionBy == Seq("day(ts)", "bucket(id,4)"))
      assert(!m.properties.contains("graft.identifier-fields"))
      s2.sql("INSERT INTO graft.k VALUES (1, TIMESTAMP '2024-01-02 03:04:05', 'a')")
      check("ALTER TABLE graft.k ADD COLUMNS (sev INT)", "AlterTableExec")
      check("ALTER TABLE graft.k RENAME COLUMN msg TO note", "AlterTableExec")
      check("ALTER TABLE graft.k DROP COLUMN sev", "AlterTableExec")
      check("ALTER TABLE graft.k SET TBLPROPERTIES ('write.cluster-by'='id')", "AlterTableExec")
      check("ALTER TABLE graft.k UNSET TBLPROPERTIES ('write.cluster-by')", "AlterTableExec")
      val m2 = ManagedTable.load(s2, wh, "k").get.meta
      assert(m2.schema.fieldNames.toSeq == Seq("id", "ts", "note"))
      assert(!m2.properties.contains("write.cluster-by"))
      check("CREATE TABLE graft.k2 AS SELECT id, note FROM graft.k", "CreateTableAsSelectExec")
      assert(s2.sql("SELECT note FROM graft.k2").collect().map(_.getString(0)).toSeq == Seq("a"))
      check("TRUNCATE TABLE graft.k2", "TruncateTableExec")
      assert(s2.sql("SELECT * FROM graft.k2").count() == 0)
      check("DROP TABLE graft.k2", "DropTableExec")
      assert(ManagedTable.load(s2, wh, "k2").isEmpty)
    }
  }

  test("ALTER TABLE graft.<t> ADD COLUMNS keeps a DEFAULT: existing rows read it") {
    withGraftSession { (s2, _) =>
      s2.sql("CREATE TABLE graft.d (id BIGINT, v STRING) " +
        "TBLPROPERTIES ('graft.identifier-fields'='id')")
      s2.sql("INSERT INTO graft.d VALUES (1, 'a')")
      s2.sql("ALTER TABLE graft.d ADD COLUMNS (score INT DEFAULT 7)")
      s2.sql("INSERT INTO graft.d VALUES (2, 'b', 30)")
      val got = s2.sql("SELECT id, score FROM graft.d").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got == Map(1L -> 7, 2L -> 30), got)
    }
  }
}
