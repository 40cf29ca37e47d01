package graft.catalog

import java.nio.file.Files

import graft.SharedSpark
import graft.cdc.CdcApply
import graft.tables.ManagedTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The DSv2 catalog seam: differential correctness against the DataFrame
  * read path across MoR states, storage-partitioned join plan shape, and
  * the refusal edges.
  */
class GraftCatalogSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private def tmpWarehouse(): String =
    Files.createTempDirectory("graft-v2wh").toString

  /** Each test registers its own catalog name — catalog instances pin
    * their warehouse at first use.
    */
  private def registerCatalog(wh: String): String = {
    val cat = s"gv2_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    cat
  }

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("name", StringType),
    StructField("__op", StringType),
    StructField("__source_ts_ns", LongType)))

  private def rows(t: (Int, String, String, Long)*) =
    t.toSeq.toDF("id", "name", "__op", "__source_ts_ns")

  private def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  private def assertSameRows(v2: DataFrame, api: DataFrame): Unit = {
    assert(v2.schema.fieldNames.toSeq == api.schema.fieldNames.toSeq)
    assert(sortedRows(v2) == sortedRows(api))
  }

  test("bucket function computes exactly the write path's pmod(hash(col), n)") {
    val df = Seq(1, 7, -3, 42, Int.MaxValue).toDF("k")
      .withColumn("b", pmod(hash(col("k")), lit(8)))
    df.collect().foreach { r =>
      val bf = BoundBucket(IntegerType)
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](8, r.getInt(0)))
      assert(bf.produceResult(row) == r.getInt(1), s"int key ${r.getInt(0)}")
    }
    val sdf = Seq("a", "hello", "", "été").toDF("k")
      .withColumn("b", pmod(hash(col("k")), lit(16)))
    sdf.collect().foreach { r =>
      val bf = BoundBucket(StringType)
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](16, org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(0))))
      assert(bf.produceResult(row) == r.getInt(1), s"string key ${r.getString(0)}")
    }
    val ldf = Seq(1L, -99L, 1234567890123L).toDF("k")
      .withColumn("b", pmod(hash(col("k")), lit(4)))
    ldf.collect().foreach { r =>
      val bf = BoundBucket(LongType)
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](4, r.getLong(0)))
      assert(bf.produceResult(row) == r.getInt(1), s"long key ${r.getLong(0)}")
    }
  }

  test("V2 read = DataFrame read: unpartitioned keyed MoR with trickle and tombstones") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "t1", schema, Seq("id"))
    t.merge(rows((1, "a", "c", 1L), (2, "b", "c", 1L), (3, "c", "c", 1L)))
    t.merge(rows((1, "a2", "u", 2L), (4, "d", "c", 2L)))
    t.merge(rows((2, null, "d", 3L), (5, "e", "c", 3L)),
      CdcApply.UpsertConfig(keepDeletes = false))
    val cat = registerCatalog(wh)
    assertSameRows(spark.sql(s"SELECT * FROM $cat.t1"), t.read())
    // column pruning + empty projection (count star)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t1").as[Long].head() == t.read().count())
    assertSameRows(spark.sql(s"SELECT name FROM $cat.t1"), t.read().select("name"))
  }

  test("V2 read = DataFrame read: posdel sidecars and post-sidecar trickle") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "t2", schema, Seq("id"))
    t.merge(rows((1 to 50).map(i => (i, s"n$i", "c", 1L)): _*))
    t.merge(rows((1, "a2", "u", 2L), (2, null, "d", 2L)),
      CdcApply.UpsertConfig(keepDeletes = false))
    t.materializePositionalDeletes()
    t.merge(rows((3, "c3", "u", 3L), (51, "x", "c", 3L)))
    val cat = registerCatalog(wh)
    assertSameRows(spark.sql(s"SELECT * FROM $cat.t2"), t.read())
    // filtered read over posdel-carrying splits: the reader must keep the
    // UNfiltered parquet path there (row-group skipping would break the
    // running-ordinal = row-index identity the (file,pos) pairs address),
    // and the answer must still be exact
    assertSameRows(
      spark.sql(s"SELECT id, name FROM $cat.t2 WHERE id <= 5 OR id = 51"),
      t.read().filter(col("id") <= 5 || col("id") === 51).select("id", "name"))
  }

  test("V2 read = DataFrame read: bucket-partitioned table, pruned filters stay sound") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "t3", schema, Seq("id"),
      partitionBy = Seq("bucket(id,4)"))
    t.merge(rows((1 to 200).map(i => (i, s"n$i", "c", 1L)): _*))
    t.merge(rows((1, "a2", "u", 2L), (7, null, "d", 2L), (201, "w", "c", 2L)),
      CdcApply.UpsertConfig(keepDeletes = false))
    val cat = registerCatalog(wh)
    assertSameRows(spark.sql(s"SELECT * FROM $cat.t3"), t.read())
    assertSameRows(
      spark.sql(s"SELECT id, name FROM $cat.t3 WHERE id = 42"),
      t.read().filter(col("id") === 42).select("id", "name"))
    assertSameRows(
      spark.sql(s"SELECT id FROM $cat.t3 WHERE id > 150 AND id <= 160"),
      t.read().filter(col("id") > 150 && col("id") <= 160).select("id"))
    assertSameRows(
      spark.sql(s"SELECT id FROM $cat.t3 WHERE id IN (1, 7, 42, 999)"),
      t.read().filter(col("id").isin(1, 7, 42, 999)).select("id"))
  }

  test("V2 read = DataFrame read: keyless table across many chunked splits") {
    val wh = tmpWarehouse()
    val kschema = StructType(Seq(
      StructField("k", IntegerType, nullable = false),
      StructField("v", StringType)))
    val t = ManagedTable.create(spark, wh, "t4", kschema,
      properties = Map("read.v2.split-max-files" -> "1"))
    (1 to 4).foreach(b => t.append(Seq.tabulate(25)(i => (b * 100 + i, s"v$b-$i")).toDF("k", "v")))
    val cat = registerCatalog(wh)
    assertSameRows(spark.sql(s"SELECT * FROM $cat.t4"), t.read())
  }

  test("storage-partitioned join: co-bucketed join and keyed group-by plan no shuffle") {
    val wh = tmpWarehouse()
    val a = ManagedTable.create(spark, wh, "spj_a", StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("v", StringType))), partitionBy = Seq("bucket(id,4)"))
    val b = ManagedTable.create(spark, wh, "spj_b", StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("w", LongType))), partitionBy = Seq("bucket(id,4)"))
    a.append(Seq.tabulate(300)(i => (i, s"a$i")).toDF("id", "v"))
    b.append(Seq.tabulate(300)(i => (i * 2, i.toLong)).toDF("id", "w"))
    val cat = registerCatalog(wh)
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val joined = spark.sql(
        s"SELECT a.id, a.v, b.w FROM $cat.spj_a a JOIN $cat.spj_b b ON a.id = b.id")
      val got = sortedRows(joined)
      val expect = sortedRows(
        a.read().as("a").join(b.read().as("b"), "id").select($"id", $"v", $"w"))
      assert(got == expect)
      val planStr = joined.queryExecution.executedPlan.toString
      assert(!planStr.contains("Exchange"),
        s"co-bucketed join should be storage-partitioned (no exchange):\n$planStr")

      val agg = spark.sql(s"SELECT id, count(*) AS n FROM $cat.spj_a GROUP BY id")
      val aggGot = sortedRows(agg)
      val aggExpect = sortedRows(a.read().groupBy("id").agg(count(lit(1)).as("n")))
      assert(aggGot == aggExpect)
      val aggPlan = agg.queryExecution.executedPlan.toString
      assert(!aggPlan.contains("Exchange"),
        s"keyed group-by over the bucketed layout should not shuffle:\n$aggPlan")

      // without the conf the same query still answers correctly (shuffled)
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      assert(sortedRows(spark.sql(
        s"SELECT a.id, a.v, b.w FROM $cat.spj_a a JOIN $cat.spj_b b ON a.id = b.id")) == expect)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("CREATE / DROP / ALTER through the V2 catalog: one evolution implementation") {
    val wh = tmpWarehouse()
    val cat = registerCatalog(wh)
    spark.sql(s"CREATE TABLE $cat.created (id INT, v STRING) PARTITIONED BY (bucket(8, id)) " +
      s"TBLPROPERTIES ('graft.identifier-fields' = 'id', 'write.target-rows' = '1000')")
    val t = ManagedTable.load(spark, wh, "created").get
    assert(t.meta.identifierFields == Seq("id"))
    assert(t.meta.partitionBy == Seq("bucket(id,8)"))
    assert(t.meta.properties.get("write.target-rows").contains("1000"))
    assert(spark.sql(s"SHOW TABLES IN $cat").collect().map(_.getString(1)).contains("created"))

    // ALTER dispatches onto the same ManagedTable evolution the SQL
    // surface calls — and the evolved schema is immediately readable
    spark.sql(s"INSERT INTO $cat.created VALUES (1, 'a')")
    spark.sql(s"ALTER TABLE $cat.created ADD COLUMNS (z INT, w STRING)")
    assert(ManagedTable.load(spark, wh, "created").get.meta.schema.fieldNames.toSeq ==
      Seq("id", "v", "z", "w"))
    spark.sql(s"INSERT INTO $cat.created VALUES (2, 'b', 7, 'x')")
    assert(sortedRows(spark.sql(s"SELECT * FROM $cat.created")) ==
      sortedRows(Seq((1, "a", null.asInstanceOf[Integer], null.asInstanceOf[String]),
        (2, "b", 7: Integer, "x")).toDF("id", "v", "z", "w")))
    spark.sql(s"ALTER TABLE $cat.created DROP COLUMN w")
    assert(ManagedTable.load(spark, wh, "created").get.meta.schema.fieldNames.toSeq ==
      Seq("id", "v", "z"))
    spark.sql(s"ALTER TABLE $cat.created SET TBLPROPERTIES ('write.target-rows' = '500')")
    assert(ManagedTable.load(spark, wh, "created").get
      .meta.properties.get("write.target-rows").contains("500"))
    spark.sql(s"ALTER TABLE $cat.created UNSET TBLPROPERTIES ('write.target-rows')")
    assert(!ManagedTable.load(spark, wh, "created").get
      .meta.properties.contains("write.target-rows"))

    // RENAME works through V2 since the reader folds lineage (round 10):
    // old files answer under the new name, new writes use it
    spark.sql(s"ALTER TABLE $cat.created RENAME COLUMN v TO label")
    assert(sortedRows(spark.sql(s"SELECT id, label FROM $cat.created")) ==
      sortedRows(Seq((1, "a"), (2, "b")).toDF("id", "label")))
    // identifier/partition-source immutability rides the one implementation
    val er = intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.created RENAME COLUMN id TO key"))
    assert(er.getMessage.contains("identifier") ||
      (er.getCause != null && er.getCause.getMessage.contains("identifier")),
      er.getMessage)

    // ADD COLUMN with a DEFAULT: pre-add rows read the default (seq-gated
    // fold), post-add rows their written values
    spark.sql(s"ALTER TABLE $cat.created ADD COLUMN score INT DEFAULT 7")
    spark.sql(s"INSERT INTO $cat.created VALUES (3, 'c', 1, 30)")
    assert(sortedRows(spark.sql(s"SELECT id, score FROM $cat.created")) ==
      sortedRows(Seq((1, 7), (2, 7), (3, 30)).toDF("id", "score")))
    // non-round-tripping default types refuse with a pointer
    val ed = intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.created ADD COLUMN d DATE DEFAULT DATE'2020-01-01'"))
    assert(ed.getMessage.contains("numeric/boolean/string") ||
      (ed.getCause != null && ed.getCause.getMessage.contains("numeric/boolean/string")),
      ed.getMessage)

    // grammar-owned verbs stay on the SQL surface — refuse precisely
    val et = intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.created ALTER COLUMN z TYPE BIGINT"))
    assert(et.getMessage.nonEmpty)
    // identifier-field guard rides the one implementation
    val ei = intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.created DROP COLUMN id"))
    assert(ei.getMessage.contains("identifier") ||
      (ei.getCause != null && ei.getCause.getMessage.contains("identifier")),
      ei.getMessage)

    spark.sql(s"DROP TABLE $cat.created")
    assert(ManagedTable.load(spark, wh, "created").isEmpty)
  }

  test("CREATE TABLE and CTAS refuse a persisted view's name through the catalog") {
    val wh = tmpWarehouse()
    val cat = registerCatalog(wh)
    graft.tables.ViewStore.create(spark, wh, "vw", "SELECT 1 AS x", replace = false)
    val ec = intercept[Exception](spark.sql(s"CREATE TABLE $cat.vw (x INT)"))
    assert(ec.getMessage.contains("a view with this name exists"), ec.getMessage)
    val ea = intercept[Exception](spark.sql(s"CREATE TABLE $cat.vw AS SELECT 1 AS x"))
    assert(ea.getMessage.contains("a view with this name exists"), ea.getMessage)
    assert(ManagedTable.load(spark, wh, "vw").isEmpty, "the view must not be shadowed")
  }

  test("SET TBLPROPERTIES cannot re-key through the catalog: it points at SET IDENTIFIER FIELDS") {
    val wh = tmpWarehouse()
    val cat = registerCatalog(wh)
    spark.sql(s"CREATE TABLE $cat.k (id INT, v STRING) " +
      "TBLPROPERTIES ('graft.identifier-fields' = 'id')")
    val e = intercept[Exception](spark.sql(
      s"ALTER TABLE $cat.k SET TBLPROPERTIES ('graft.identifier-fields' = 'v', 'a' = 'b')"))
    assert(e.getMessage.contains("SET IDENTIFIER FIELDS"), e.getMessage)
    val m = ManagedTable.load(spark, wh, "k").get.meta
    assert(m.identifierFields == Seq("id"))
    assert(!m.properties.contains("graft.identifier-fields") && !m.properties.contains("a"),
      "a refused ALTER must change nothing")
  }

  test("V2 writes: INSERT INTO / OVERWRITE / CTAS / wap staging through one commit protocol") {
    val wh = tmpWarehouse()
    val cat = registerCatalog(wh)
    spark.sql(s"CREATE TABLE $cat.w (id INT, v STRING)")
    spark.sql(s"INSERT INTO $cat.w VALUES (1, 'a'), (2, 'b')")
    val t = ManagedTable.load(spark, wh, "w").get
    assert(sortedRows(t.read()) == sortedRows(Seq((1, "a"), (2, "b")).toDF("id", "v")))
    assert(sortedRows(spark.sql(s"SELECT * FROM $cat.w")) == sortedRows(t.read()))
    // V2 overwrite = truncate semantics in BOTH modes on an unpartitioned
    // table (dynamic mode, round 11, runs the connector-native write and
    // full-replaces — Iceberg's semantics; static rides the V1 bridge)
    val prevMode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try {
      spark.sql(s"INSERT OVERWRITE $cat.w VALUES (8, 'y')") // dynamic default
      assert(sortedRows(ManagedTable.load(spark, wh, "w").get.read()) ==
        sortedRows(Seq((8, "y")).toDF("id", "v")))
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
      spark.sql(s"INSERT OVERWRITE $cat.w VALUES (9, 'z')")
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
    def live() = ManagedTable.load(spark, wh, "w").get.read()
    assert(sortedRows(live()) == sortedRows(Seq((9, "z")).toDF("id", "v")))

    // CTAS
    spark.sql(s"CREATE TABLE $cat.wc AS SELECT id, v FROM $cat.w")
    assert(sortedRows(spark.sql(s"SELECT * FROM $cat.wc")) ==
      sortedRows(Seq((9, "z")).toDF("id", "v")))

    // wap: INSERT stages; live untouched until publish; overwrite refuses
    try {
      spark.conf.set("spark.wap.branch", "audit")
      spark.sql(s"INSERT INTO $cat.w VALUES (10, 'staged')")
      assert(sortedRows(spark.sql(s"SELECT * FROM $cat.w")) ==
        sortedRows(Seq((9, "z"), (10, "staged")).toDF("id", "v")), "wap read sees staged")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
      val e = intercept[Exception](spark.sql(s"INSERT OVERWRITE $cat.w VALUES (0, 'x')"))
      assert(e.getMessage.contains("WAP branch") ||
        (e.getCause != null && e.getCause.getMessage.contains("WAP branch")), e.getMessage)
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
    } finally spark.conf.unset("spark.wap.branch")
    assert(sortedRows(live()) == sortedRows(Seq((9, "z")).toDF("id", "v")),
      "live table untouched by staged insert")

    // an explicitly pinned table handle is read-only
    val e3 = intercept[IllegalArgumentException](
      new GraftV2Table(t, Some("1")).newWriteBuilder(null))
    assert(e3.getMessage.contains("read-only"), e3.getMessage)
  }

  test("runtime filtering prunes groups and preserves the SPJ partition-value set") {
    import org.apache.spark.sql.connector.read.{HasPartitionKey, SupportsRuntimeFiltering}
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "rt", schema, Seq("id"),
      partitionBy = Seq("bucket(id,8)"))
    t.merge(rows((1 to 400).map(i => (i, s"n$i", "c", 1L)): _*))
    val saved = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val scan = new GraftV2Table(t)
        .newScanBuilder(org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
        .build().asInstanceOf[GraftScan]
      val before = scan.planInputPartitions()
      def keysOf(ps: Array[org.apache.spark.sql.connector.read.InputPartition]) =
        ps.map(_.asInstanceOf[HasPartitionKey].partitionKey().toString).sorted.toSeq
      def dataFilesOf(ps: Array[org.apache.spark.sql.connector.read.InputPartition]) =
        ps.map(_.asInstanceOf[GraftScan.GraftInputPartition].dataFiles.length).sum
      scan.asInstanceOf[SupportsRuntimeFiltering]
        .filter(Array[org.apache.spark.sql.sources.Filter](
          org.apache.spark.sql.sources.In("id", Array(7))))
      val after = scan.planInputPartitions()
      assert(after.length == before.length, "partition count must not change under runtime filters")
      assert(keysOf(after) == keysOf(before), "partition values must not change under runtime filters")
      assert(dataFilesOf(after) < dataFilesOf(before),
        s"runtime In-filter should prune groups: ${dataFilesOf(after)} vs ${dataFilesOf(before)}")
      // a filtered read through SQL still answers exactly
      val cat = registerCatalog(wh)
      assertSameRows(spark.sql(s"SELECT id, name FROM $cat.rt WHERE id = 7"),
        t.read().filter(col("id") === 7).select("id", "name"))
    } finally {
      saved match {
        case Some(v) => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
        case None    => spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      }
    }
  }

  test("manifest-answered aggregates plan as LocalTableScan through the V2 seam") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "agg1", schema, Seq("id"))
    t.append(rows((1 to 40).map(i => (i, s"n$i", "c", 1L)): _*))
    t.append(rows((41 to 60).map(i => (i, s"n$i", "c", 2L)): _*))
    val cat = registerCatalog(wh)
    val agg = spark.sql(s"SELECT count(*) AS n, min(id) AS mn, max(id) AS mx FROM $cat.agg1")
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
      s"flat aggregate should answer from the manifest:\n$plan")
    assert(agg.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq ==
      Seq((60L, 1, 60)))

    // grouped over an identity partition source
    val pschema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("grp", IntegerType, nullable = false),
      StructField("name", StringType)))
    val p = ManagedTable.create(spark, wh, "agg2", pschema, Seq("id"), partitionBy = Seq("grp"))
    p.append((1 to 90).map(i => (i, i % 3, s"n$i")).toDF("id", "grp", "name"))
    val gagg = spark.sql(s"SELECT grp, count(*) AS n, max(id) AS mx FROM $cat.agg2 GROUP BY grp")
    val gplan = gagg.queryExecution.executedPlan.toString
    assert(gplan.contains("LocalTableScan") && !gplan.contains("BatchScan"),
      s"partition-grouped aggregate should answer from the manifest:\n$gplan")
    assert(sortedRows(gagg) ==
      sortedRows(p.read().groupBy("grp").agg(count(lit(1)).as("n"), max(col("id")).as("mx"))))

    // tag-pinned count answers from the pinned manifest
    t.tag("before")
    t.append(rows((61, "x", "c", 3L)))
    val tagAgg = spark.sql(s"SELECT count(*) AS n FROM $cat.agg1 VERSION AS OF 'before'")
    assert(tagAgg.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    assert(tagAgg.as[Long].head() == 60L)

    // MoR state falls through to the real scan — and still answers exactly
    t.merge(rows((1, "a2", "u", 4L)))
    val mor = spark.sql(s"SELECT count(*) AS n, min(id) AS mn FROM $cat.agg1")
    assert(mor.queryExecution.executedPlan.toString.contains("BatchScan"),
      "MoR table must keep the real scan")
    assert(mor.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq == Seq((61L, 1)))

    // filtered aggregates keep the real scan (manifest answers are unfiltered-only)
    val filtered = spark.sql(s"SELECT count(*) AS n FROM $cat.agg2 WHERE id > 10")
    assert(filtered.queryExecution.executedPlan.toString.contains("BatchScan"))
    assert(filtered.as[Long].head() == 80L)
  }

  test("V2 time travel: VERSION AS OF number / tag, TIMESTAMP AS OF, unknown ref fails") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "tt", schema, Seq("id"))
    t.merge(rows((1, "a", "c", 1L), (2, "b", "c", 1L)))
    val v1 = t.meta.currentVersion
    t.tag("audit")
    t.merge(rows((1, "a2", "u", 2L), (3, "c", "c", 2L)))
    val cat = registerCatalog(wh)
    assertSameRows(spark.sql(s"SELECT * FROM $cat.tt VERSION AS OF $v1"), t.readVersion(v1))
    assertSameRows(spark.sql(s"SELECT * FROM $cat.tt VERSION AS OF 'audit'"), t.readTag("audit"))
    assertSameRows(spark.sql(s"SELECT * FROM $cat.tt"), t.read())
    val tsMs = t.versions().find(_._1 == v1).get._2
    val tsLit = java.time.Instant.ofEpochMilli(tsMs).toString
    assertSameRows(
      spark.sql(s"SELECT * FROM $cat.tt TIMESTAMP AS OF '$tsLit'"), t.readVersion(v1))
    val e = intercept[Exception](spark.sql(s"SELECT * FROM $cat.tt VERSION AS OF 'nope'").collect())
    assert(e.getMessage.contains("unknown version ref") ||
      (e.getCause != null && e.getCause.getMessage.contains("unknown version ref")),
      e.getMessage)
  }

  test("V2 reads adjudicate spark.wap.branch like the SQL surface") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "wapt", schema, Seq("id"))
    t.merge(rows((1, "a", "c", 1L), (2, "b", "c", 1L)))
    t.stageAppend(rows((3, "staged", "c", 2L)), "audit_b")
    val cat = registerCatalog(wh)
    try {
      spark.conf.set("spark.wap.branch", "audit_b")
      assertSameRows(spark.sql(s"SELECT * FROM $cat.wapt"), t.readBranch("audit_b"))
      // absent branch falls back to live (the SQL rule's wapBranchOn shape)
      spark.conf.set("spark.wap.branch", "no_such_branch")
      assertSameRows(spark.sql(s"SELECT * FROM $cat.wapt"), t.read())
      // explicit time travel wins over the ambient branch
      spark.conf.set("spark.wap.branch", "audit_b")
      val v = t.meta.currentVersion
      assertSameRows(spark.sql(s"SELECT * FROM $cat.wapt VERSION AS OF $v"), t.readVersion(v))
    } finally spark.conf.unset("spark.wap.branch")
    assertSameRows(spark.sql(s"SELECT * FROM $cat.wapt"), t.read())
  }

  test("SPJ ineligibility degrades to a shuffled plan, never a crash") {
    val wh = tmpWarehouse()
    // bucket on a DOUBLE key: the write path accepts it, the catalog's
    // bucket function cannot bind it — the read must fall back, not fail
    val d = ManagedTable.create(spark, wh, "dbl", StructType(Seq(
      StructField("score", DoubleType, nullable = false),
      StructField("v", IntegerType))), partitionBy = Seq("bucket(score,4)"))
    d.append(Seq.tabulate(50)(i => (i * 1.5, i)).toDF("score", "v"))
    // a NULL identity tuple (hive default sentinel dir) must read through
    // keyed splits — the null key is a legal partition value
    val s0 = ManagedTable.create(spark, wh, "sent", StructType(Seq(
      StructField("grp", StringType),
      StructField("v", IntegerType))), partitionBy = Seq("grp"))
    s0.append(Seq((null: String, 2), ("ok", 3)).toDF("grp", "v"))
    val saved = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val cat = registerCatalog(wh)
      assertSameRows(spark.sql(s"SELECT * FROM $cat.dbl"), d.read())
      assertSameRows(spark.sql(s"SELECT * FROM $cat.sent"), s0.read())
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
      case None    => spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    }
  }

  test("V2 read: KEYED multi-epoch tables resolve epoch-aware (round 11), SPJ off") {
    val wh = tmpWarehouse()
    val cat = registerCatalog(wh)
    // epoch 0: identity-partitioned on name; tombstones within the epoch
    val t = ManagedTable.create(spark, wh, "me1", schema, Seq("id"),
      partitionBy = Seq("name"))
    val hard = graft.cdc.CdcApply.UpsertConfig(keepDeletes = false)
    t.merge(rows((1 to 30).map(i => (i, s"g${i % 3}", "c", 1L)): _*), hard)
    t.merge(rows((3, "g0", "d", 2L), (4, "g1", "u", 2L)), hard)
    def check(label: String): Unit =
      assertSameRows(spark.sql(s"SELECT * FROM $cat.me1"), t.read())
    check("epoch 0")
    // epoch 1: rebucket — cross-epoch deletes are GLOBAL on ids: a delete
    // landing in a bucket tuple must hide epoch-0 rows living in name
    // tuples (and a partition-moving update across the boundary resolves)
    t.updatePartitionSpec(Seq("bucket(id,4)"))
    t.merge(rows((5, "g2", "d", 3L), (6, "MOVED", "u", 3L), (31, "new", "c", 3L)), hard)
    check("epoch 1")
    // epoch 2: unpartitioned; more cross-epoch deletes against BOTH prior
    t.updatePartitionSpec(Seq.empty)
    t.merge(rows((1, "g1", "d", 4L), (31, "renew", "u", 4L), (7, "x", "d", 4L)), hard)
    check("epoch 2")
    assert(spark.sql(s"SELECT id FROM $cat.me1 WHERE id IN (1,3,5,7)").count() == 0,
      "cross-epoch tombstones must hide old-epoch rows globally")
    // SPJ stays disengaged on the evolved table but reads stay correct
    val saved = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      check("bucketing on")
      val plan = spark.sql(s"SELECT id, count(*) c FROM $cat.me1 GROUP BY id")
        .queryExecution.executedPlan.toString
      assert(plan.contains("Exchange"),
        "multi-epoch keyed scan must not report KeyGroupedPartitioning")
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
      case None    => spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    }
    // compact normalizes to the current spec — locality (and SPJ
    // eligibility) restored, state unchanged
    t.compact()
    check("after compact")
  }

  test("V2 read folds rename lineage and initial defaults like the SQL surface") {
    val wh = tmpWarehouse()
    val cat = registerCatalog(wh)

    // rename mid-history: old files carry the old name, new files the new
    // one — the reader coalesces them; later MoR trickle still applies
    val t = ManagedTable.create(spark, wh, "rl1", schema, Seq("id"))
    t.merge(rows((1, "a", "c", 1L), (2, "b", "c", 1L), (3, "c", "c", 1L)))
    t.renameColumn("name", "label")
    t.merge(Seq((2, "b2", "u", 2L), (4, "d", "c", 2L))
      .toDF("id", "label", "__op", "__source_ts_ns"))
    assertSameRows(spark.sql(s"SELECT * FROM $cat.rl1"), t.read())
    assertSameRows(spark.sql(s"SELECT label FROM $cat.rl1 WHERE id <= 2"),
      t.read().filter(col("id") <= 2).select("label"))

    // chained rename across file generations
    t.renameColumn("label", "title")
    t.merge(Seq((5, "e", "c", 3L)).toDF("id", "title", "__op", "__source_ts_ns"))
    assertSameRows(spark.sql(s"SELECT * FROM $cat.rl1"), t.read())

    // initial default: pre-add rows get the default, post-add explicit
    // null stays null (seq-gated, not blanket coalesce)
    val d = ManagedTable.create(spark, wh, "df1", StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("v", StringType))), Seq("id"))
    d.append(Seq((1, "x"), (2, "y")).toDF("id", "v"))
    d.addColumn(StructField("score", IntegerType), default = Some("7"))
    d.append(Seq((3, "z", 30), (4, "w", null.asInstanceOf[Integer]))
      .map { case (a, b, c) => (a, b, Option(c).map(_.toString)) }
      .toDF("id", "v", "s").withColumn("score", col("s").cast(IntegerType)).drop("s"))
    assertSameRows(spark.sql(s"SELECT * FROM $cat.df1"), d.read())
    assert(spark.sql(s"SELECT score FROM $cat.df1 WHERE id = 1").head().getInt(0) == 7,
      "pre-add row must read the default")
    assert(spark.sql(s"SELECT score FROM $cat.df1 WHERE id = 4").head().isNullAt(0),
      "post-add explicit null must stay null")

    // rename + default together on a partitioned table, differential
    val p = ManagedTable.create(spark, wh, "rl2", schema, Seq("id"),
      partitionBy = Seq("bucket(id,4)"))
    p.merge(rows((1 to 60).map(i => (i, s"n$i", "c", 1L)): _*))
    p.renameColumn("name", "label")
    p.addColumn(StructField("rank", LongType), default = Some("5"))
    p.merge(Seq((2, "b2", 20L, "u", 2L), (61, "x", 61L, "c", 2L))
      .toDF("id", "label", "rank", "__op", "__source_ts_ns"))
    assertSameRows(spark.sql(s"SELECT * FROM $cat.rl2"), p.read())
  }

  test("V2 read: multi-epoch KEYLESS tables union soundly (SPJ disengages)") {
    val wh = tmpWarehouse()
    val cat = registerCatalog(wh)
    val kschema = StructType(Seq(
      StructField("g", StringType), StructField("id", IntegerType),
      StructField("v", StringType)))
    val t = ManagedTable.create(spark, wh, "me1", kschema, partitionBy = Seq("g"))
    t.append(Seq(("a", 1, "x"), ("b", 2, "y")).toDF("g", "id", "v"))
    t.updatePartitionSpec(Seq("bucket(id,4)"))
    t.append(Seq(("a", 3, "z"), ("c", 4, "w")).toDF("g", "id", "v"))
    assertSameRows(spark.sql(s"SELECT * FROM $cat.me1 ORDER BY id"),
      t.read().orderBy("id"))
    assertSameRows(spark.sql(s"SELECT v FROM $cat.me1 WHERE g = 'a'"),
      t.read().filter(col("g") === "a").select("v"))
  }

  test("runtime-filter attributes respect column pruning: count over an SPJ join resolves") {
    // a count over a join on the partition key alone prunes every other
    // column out of both scans; filterAttributes must not name a
    // projected-out identifier, or Spark fails to resolve it when
    // injecting runtime filters ("Unable to resolve id given [cust]")
    val wh = tmpWarehouse()
    val a = ManagedTable.create(spark, wh, "rfa",
      StructType(Seq(StructField("id", IntegerType), StructField("cust", IntegerType))),
      Seq("id"), partitionBy = Seq("bucket(cust,4)"))
    a.append((1 to 50).map(i => (i, i % 10)).toDF("id", "cust"))
    val b = ManagedTable.create(spark, wh, "rfb",
      StructType(Seq(StructField("k", IntegerType), StructField("cust", IntegerType))),
      Seq("k"), partitionBy = Seq("bucket(cust,4)"))
    b.append((1 to 30).map(i => (i, i % 10)).toDF("k", "cust"))
    val cat = registerCatalog(wh)
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val n = spark.sql(
        s"SELECT count(*) FROM $cat.rfa x JOIN $cat.rfb y ON x.cust = y.cust")
        .as[Long].head()
      assert(n == 150L, s"join count $n") // 5 rows per cust value x 3 x 10
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("metadata tables resolve through the catalog under both spellings, read-only") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "m1", schema, Seq("id"),
      partitionBy = Seq("bucket(id,4)"))
    t.merge(rows((1 to 20).map(i => (i, s"n$i", "c", 1L)): _*))
    t.tag("v1tag")
    t.merge(rows((21, "x", "c", 2L)))
    val cat = registerCatalog(wh)

    // $-suffix spelling matches the graft SQL surface's frames exactly
    for (sfx <- Seq("files", "partitions", "snapshots", "refs")) {
      val viaCat = spark.sql(s"SELECT * FROM $cat.`m1$$$sfx`")
      val viaSql = sfx match {
        case "files"      => t.filesMetadata()
        case "partitions" => t.partitionsMetadata()
        case "snapshots"  => t.snapshotsMetadata()
        case "refs"       => t.refsMetadata()
      }
      assert(viaCat.schema.fieldNames.toSeq == viaSql.schema.fieldNames.toSeq, sfx)
      assert(sortedRows(viaCat) == sortedRows(viaSql), s"$sfx rows")
      assert(viaCat.queryExecution.executedPlan.toString.contains("LocalTableScan"),
        s"$sfx must plan driver-local")
    }

    // Iceberg's nested spelling names the same tables
    assert(sortedRows(spark.sql(s"SELECT * FROM $cat.m1.files")) ==
      sortedRows(t.filesMetadata()))
    assert(sortedRows(spark.sql(s"SELECT * FROM $cat.default.m1.snapshots")) ==
      sortedRows(t.snapshotsMetadata()))
    assert(spark.sql(s"SELECT name, type FROM $cat.m1.refs").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("v1tag", "tag")))

    // not writable; unknown suffix / table still fail normally
    val e = intercept[Exception](
      spark.sql(s"INSERT INTO $cat.`m1$$files` VALUES ('p', 'data', 1, 1, map(), map())"))
    assert(e.getMessage.nonEmpty)
    intercept[Exception](spark.sql(s"SELECT * FROM $cat.`m1$$bogus`").collect())
    intercept[Exception](spark.sql(s"SELECT * FROM $cat.nosuch.files").collect())
  }

  test("V2 DELETE FROM = the SQL surface's merge-on-read delete; TRUNCATE; refusal edges") {
    val wh = tmpWarehouse()
    val cat = registerCatalog(wh)

    // keyed MoR delete through the V2 seam = the DataFrame deleteWhere
    val t = ManagedTable.create(spark, wh, "d1", schema, Seq("id"))
    t.merge(rows((1 to 40).map(i => (i, s"n$i", "c", 1L)): _*))
    t.merge(rows((3, "u3", "u", 2L), (41, "x", "c", 2L)))
    spark.sql(s"DELETE FROM $cat.d1 WHERE id <= 10 AND name != 'n7'")
    // differential oracle: the SAME history and predicate through the
    // DataFrame deleteWhere on a sibling table
    val t2 = ManagedTable.create(spark, wh, "d1_oracle", schema, Seq("id"))
    t2.merge(rows((1 to 40).map(i => (i, s"n$i", "c", 1L)): _*))
    t2.merge(rows((3, "u3", "u", 2L), (41, "x", "c", 2L)))
    t2.deleteWhere(col("id") <= 10 && col("name") =!= "n7")
    assertSameRows(spark.sql(s"SELECT * FROM $cat.d1"), t2.read())
    // null-semantics edge: a null name row is KEPT (cond evaluates null)
    t2.merge(rows((50, null, "c", 3L)))
    spark.sql(s"INSERT INTO $cat.d1 SELECT 50, CAST(NULL AS STRING), 'c', CAST(3 AS BIGINT)")
    spark.sql(s"DELETE FROM $cat.d1 WHERE name != 'keepall'")
    t2.deleteWhere(col("name") =!= "keepall")
    assertSameRows(spark.sql(s"SELECT * FROM $cat.d1"), t2.read())

    // IN / IS NULL / LIKE-prefix shapes all translate and apply exactly
    spark.sql(s"DELETE FROM $cat.d1 WHERE id IN (50) OR name LIKE 'n1%'")
    t2.deleteWhere(col("id").isin(50) || col("name").startsWith("n1"))
    assertSameRows(spark.sql(s"SELECT * FROM $cat.d1"), t2.read())

    // wap: DELETE stages onto the branch, live untouched until publish
    val tw = ManagedTable.create(spark, wh, "d2", schema, Seq("id"))
    tw.merge(rows((1, "a", "c", 1L), (2, "b", "c", 1L), (3, "c", "c", 1L)))
    try {
      spark.conf.set("spark.wap.branch", "audit")
      spark.sql(s"DELETE FROM $cat.d2 WHERE id = 2")
      assert(spark.sql(s"SELECT * FROM $cat.d2").collect().map(_.getInt(0)).sorted.toSeq ==
        Seq(1, 3), "wap read sees the staged delete")
      // TRUNCATE refuses mid-audit
      val e = intercept[Exception](spark.sql(s"TRUNCATE TABLE $cat.d2"))
      assert(e.getMessage.contains("WAP branch") ||
        (e.getCause != null && e.getCause.getMessage.contains("WAP branch")), e.getMessage)
    } finally spark.conf.unset("spark.wap.branch")
    assert(ManagedTable.load(spark, wh, "d2").get.read().count() == 3,
      "live table untouched by the staged delete")
    ManagedTable.load(spark, wh, "d2").get.publishBranch("audit")
    assert(ManagedTable.load(spark, wh, "d2").get.read()
      .collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 3))

    // TRUNCATE TABLE = the metadata truncate
    spark.sql(s"TRUNCATE TABLE $cat.d2")
    assert(ManagedTable.load(spark, wh, "d2").get.read().count() == 0)

    // untranslatable condition: no longer a refusal — the row-level
    // delta path (GraftRowLevelOps, round 11) scans the matches and
    // commits the same MoR tombstones
    val t3 = ManagedTable.create(spark, wh, "d3", schema, Seq("id"))
    t3.merge(rows((1, "abc", "c", 1L), (2, "defg", "c", 1L)))
    spark.sql(s"DELETE FROM $cat.d3 WHERE length(name) > 3")
    assert(ManagedTable.load(spark, wh, "d3").get.read()
      .collect().map(_.getInt(0)).toSeq == Seq(1),
      "expression delete must run through the delta path")

    // keyless table: the copy-on-write path through the same verb
    val k = ManagedTable.create(spark, wh, "d4",
      StructType(Seq(StructField("id", IntegerType), StructField("v", StringType))))
    k.append(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"))
    spark.sql(s"DELETE FROM $cat.d4 WHERE id = 2")
    assert(ManagedTable.load(spark, wh, "d4").get.read()
      .collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 3))
  }

  test("native V2 integration: SHOW CREATE TABLE, DESCRIBE, reader-option time travel") {
    val wh = tmpWarehouse()
    val cat = registerCatalog(wh)
    spark.sql(s"CREATE TABLE $cat.nat (id INT, v STRING) PARTITIONED BY (bucket(4, id)) " +
      "TBLPROPERTIES ('write.target-rows' = '1000')")
    spark.sql(s"INSERT INTO $cat.nat VALUES (1, 'a')") // v1
    spark.sql(s"INSERT INTO $cat.nat VALUES (2, 'b')") // v2

    // Spark's own ShowCreateTableExec renders from schema/partitioning/props
    val ddl = spark.sql(s"SHOW CREATE TABLE $cat.nat").head().getString(0)
    assert(ddl.contains("id INT") && ddl.contains("bucket(4, id)"), ddl)

    // DESCRIBE lists columns and the partitioning
    val desc = spark.sql(s"DESCRIBE TABLE $cat.nat").collect().map(_.getString(0))
    assert(desc.contains("id") && desc.contains("v"), desc.toSeq.toString)

    // DataFrameReader option time travel rides loadTable(ident, version)
    assert(spark.read.option("versionAsOf", "1").table(s"$cat.nat").count() == 1)
    assert(spark.read.option("versionAsOf", "2").table(s"$cat.nat").count() == 2)
  }

  test("partition management: SHOW PARTITIONS from the manifest, DROP PARTITION = region delete") {
    val wh = tmpWarehouse()
    val cat = registerCatalog(wh)
    val kschema = StructType(Seq(
      StructField("g", StringType), StructField("id", IntegerType),
      StructField("v", StringType)))
    val t = ManagedTable.create(spark, wh, "pm1", kschema, partitionBy = Seq("g"))
    t.append(Seq(("a", 1, "x"), ("a", 2, "y"), ("b", 3, "z"), ("c", 4, "w"))
      .toDF("g", "id", "v"))

    // SHOW PARTITIONS answers from the manifest (Spark's native exec)
    assert(spark.sql(s"SHOW PARTITIONS $cat.pm1").collect()
      .map(_.getString(0)).sorted.toSeq == Seq("g=a", "g=b", "g=c"))
    assert(spark.sql(s"SHOW PARTITIONS $cat.pm1 PARTITION (g='b')").collect()
      .map(_.getString(0)).toSeq == Seq("g=b"))

    // DROP PARTITION = the zero-rewrite region delete; other regions'
    // files stay byte-identical
    val before = t.filesMetadata().select("path").collect().map(_.getString(0)).toSet
    spark.sql(s"ALTER TABLE $cat.pm1 DROP PARTITION (g='a')")
    val re = ManagedTable.load(spark, wh, "pm1").get
    assert(re.read().collect().map(_.getInt(1)).sorted.toSeq == Seq(3, 4))
    val after = re.filesMetadata().select("path").collect().map(_.getString(0)).toSet
    assert(after.subsetOf(before), "region drop must not rewrite surviving groups")
    assert(spark.sql(s"SHOW PARTITIONS $cat.pm1").collect()
      .map(_.getString(0)).sorted.toSeq == Seq("g=b", "g=c"))

    // TRUNCATE TABLE ... PARTITION routes to truncatePartition — the same
    // region drop; a missing region raises NoSuchPartition
    spark.sql(s"INSERT INTO $cat.pm1 VALUES ('d', 9, 'q')")
    spark.sql(s"TRUNCATE TABLE $cat.pm1 PARTITION (g='d')")
    assert(spark.sql(s"SHOW PARTITIONS $cat.pm1").collect()
      .map(_.getString(0)).sorted.toSeq == Seq("g=b", "g=c"))
    val eT = intercept[Exception](
      spark.sql(s"TRUNCATE TABLE $cat.pm1 PARTITION (g='zz')"))
    assert(eT.getMessage.nonEmpty)

    // IF EXISTS tolerates a missing region; without it Spark raises its
    // standard partition-not-found error
    spark.sql(s"ALTER TABLE $cat.pm1 DROP IF EXISTS PARTITION (g='zz')")
    val eM = intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.pm1 DROP PARTITION (g='zz')"))
    assert(eM.getMessage.nonEmpty)

    // ADD PARTITION refuses — partitions materialize on write
    val eA = intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.pm1 ADD PARTITION (g='new')"))
    assert(eA.getMessage.contains("materialize") ||
      (eA.getCause != null && eA.getCause.getMessage.contains("materialize")),
      eA.getMessage)

    // derived-transform specs stay un-managed: Spark's standard error
    val bt = ManagedTable.create(spark, wh, "pm2", kschema,
      partitionBy = Seq("bucket(id,4)"))
    bt.append(Seq(("a", 1, "x")).toDF("g", "id", "v"))
    val eB = intercept[Exception](spark.sql(s"SHOW PARTITIONS $cat.pm2"))
    assert(eB.getMessage.nonEmpty)

    // a NULL partition value lists (as a null ident) instead of silently
    // vanishing from SHOW PARTITIONS — string identity included
    val nt = ManagedTable.create(spark, wh, "pmn", kschema, partitionBy = Seq("g"))
    nt.append(Seq(("x", 1, "a"), (null, 2, "b")).toDF("g", "id", "v"))
    val nparts = spark.sql(s"SHOW PARTITIONS $cat.pmn").collect().map(_.getString(0))
    assert(nparts.length == 2 && nparts.contains("g=x"), nparts.toSeq.toString)

    // wap: DROP PARTITION stages like every V2 DML verb (keyed table —
    // keyless row-level DML cannot stage, the existing branch contract);
    // the DML's existence guard follows the BRANCH view it mutates, so a
    // partition staged mid-audit is droppable; the LISTING stays live
    // (the documented metadata contract)
    val wt = ManagedTable.create(spark, wh, "pm3", kschema, Seq("id"),
      partitionBy = Seq("g"))
    wt.append(Seq(("a", 1, "x"), ("b", 2, "y")).toDF("g", "id", "v"))
    try {
      spark.conf.set("spark.wap.branch", "audit")
      spark.sql(s"ALTER TABLE $cat.pm3 DROP PARTITION (g='a')")
      assert(spark.sql(s"SELECT g FROM $cat.pm3").collect()
        .map(_.getString(0)).toSeq == Seq("b"), "wap read sees the staged drop")
      // stage a NEW region onto the branch, then drop it — the guard must
      // see the staged view, not live
      spark.sql(s"INSERT INTO $cat.pm3 VALUES ('staged', 9, 'q')")
      spark.sql(s"ALTER TABLE $cat.pm3 DROP PARTITION (g='staged')")
      assert(spark.sql(s"SELECT g FROM $cat.pm3").collect()
        .map(_.getString(0)).toSeq == Seq("b"), "staged region dropped mid-audit")
      // the LISTING describes LIVE (like the SQL surface's SHOW PARTITIONS)
      assert(spark.sql(s"SHOW PARTITIONS $cat.pm3").collect()
        .map(_.getString(0)).sorted.toSeq == Seq("g=a", "g=b"))
    } finally spark.conf.unset("spark.wap.branch")
    assert(ManagedTable.load(spark, wh, "pm3").get.read().count() == 2,
      "live table untouched until publish")
  }

  test("metadata columns _graft_version and _file synthesize in the reader") {
    val wh = tmpWarehouse()
    val cat = registerCatalog(wh)
    val t = ManagedTable.create(spark, wh, "mc1", schema, Seq("id"))
    t.merge(rows((1, "a", "c", 1L), (2, "b", "c", 1L))) // version 1
    t.merge(rows((2, "b2", "u", 2L), (3, "c", "c", 2L))) // version 2

    // hidden from SELECT * — only named references resolve them
    assert(spark.sql(s"SELECT * FROM $cat.mc1").columns.toSeq ==
      schema.fieldNames.toSeq)

    // _graft_version = the commit that wrote the VISIBLE row (2's update
    // rides commit 2); usable as an incremental watermark filter
    val vs = spark.sql(s"SELECT id, _graft_version FROM $cat.mc1")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(vs == Map(1 -> 1L, 2 -> 2L, 3 -> 2L), s"got $vs")
    assert(spark.sql(s"SELECT id FROM $cat.mc1 WHERE _graft_version > 1")
      .collect().map(_.getInt(0)).sorted.toSeq == Seq(2, 3))

    // _file points at a real parquet file of the table
    val files = spark.sql(s"SELECT DISTINCT _file FROM $cat.mc1")
      .collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(f =>
      f.endsWith(".parquet") && f.contains("mc1")), files.toSeq.toString)

    // composes with the rename-lineage fold and ordinary columns
    t.renameColumn("name", "label")
    val both = spark.sql(s"SELECT id, label, _graft_version FROM $cat.mc1 WHERE id = 2")
      .head()
    assert(both.getString(1) == "b2" && both.getLong(2) == 2L)

    // a REAL column named _file wins over the metadata column (Spark's
    // conflict contract) — e.g. a table materialized FROM metadata reads
    val shadow = ManagedTable.create(spark, wh, "mc2", StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("_file", StringType))))
    shadow.append(Seq((1, "stored-a"), (2, "stored-b")).toDF("id", "_file"))
    assert(spark.sql(s"SELECT _file FROM $cat.mc2 ORDER BY id").collect()
      .map(_.getString(0)).toSeq == Seq("stored-a", "stored-b"),
      "the DATA column must win over the synthesized metadata column")
    assert(spark.sql(s"SELECT * FROM $cat.mc2").columns.toSeq == Seq("id", "_file"))
  }

  test("CALL procedures through the V2 catalog run the one maintenance implementation") {
    val wh = tmpWarehouse()
    val cat = registerCatalog(wh)
    val t = ManagedTable.create(spark, wh, "mp", schema, Seq("id"),
      properties = Map("write.versions-retained" -> "10"))
    t.merge(rows((1 to 30).map(i => (i, s"n$i", "c", 1L)): _*))
    t.merge(rows((1, "a2", "u", 2L)))
    t.merge(rows((2, "b2", "u", 3L)))

    // compact (positional arg): trickle folds away, data preserved
    val c = spark.sql(s"CALL $cat.system.compact('mp')").collect()
    assert(c.length == 1 && c(0).getLong(0) > c(0).getLong(1),
      s"compact must fold groups, got ${c.toSeq}")
    assert(ManagedTable.load(spark, wh, "mp").get.read().count() == 30)

    // rollback (named args, Spark's native by-name resolution)
    val preV = ManagedTable.load(spark, wh, "mp").get.meta.currentVersion
    ManagedTable.load(spark, wh, "mp").get.append(rows((99, "x", "c", 4L)))
    val rb = spark.sql(
      s"CALL $cat.system.rollback_to_version(version => $preV, `table` => 'mp')").collect()
    assert(rb(0).getLong(0) > preV, "rollback commits a NEW version")
    assert(ManagedTable.load(spark, wh, "mp").get.read().count() == 30,
      "rolled-back table must not show the appended row")

    // publish_branch folds staged rows atomically
    val tb = ManagedTable.load(spark, wh, "mp").get
    tb.stageAppendInto(rows((500, "staged", "c", 5L)), "audit")
    val pb = spark.sql(s"CALL $cat.system.publish_branch('mp', 'audit')").collect()
    assert(pb(0).getLong(0) > 0)
    assert(ManagedTable.load(spark, wh, "mp").get.read().count() == 31)

    // expire_snapshots takes a TIMESTAMP argument (micros → millis cutoff)
    val ex = spark.sql(
      s"CALL $cat.system.expire_snapshots('mp', TIMESTAMP '2020-01-01 00:00:00')").collect()
    assert(ex(0).getLong(0) == 0L, "nothing is older than 2020")
    // …or an integral epoch-millis cutoff, like the graft.system spelling
    val exMillis = spark.sql(
      s"CALL $cat.system.expire_snapshots('mp', 9999999999999)").collect()
    assert(exMillis(0).getLong(0) >= 0L)
    assert(ManagedTable.load(spark, wh, "mp").get.read().count() == 31)

    // maintenance returns informational action rows
    val m = spark.sql(s"CALL $cat.system.maintenance('mp')").collect()
    assert(m.forall(_.getString(0).nonEmpty))

    // unknown procedure refuses listing the known ones
    val e = intercept[Exception](spark.sql(s"CALL $cat.system.vacuum('mp')"))
    assert(e.getMessage.contains("unknown procedure") ||
      (e.getCause != null && e.getCause.getMessage.contains("unknown procedure")),
      e.getMessage)
  }

  test("V2 overwrite-by-filter = the SQL surface's overwriteWhere; static PARTITION; edges") {
    val wh = tmpWarehouse()
    val cat = registerCatalog(wh)
    val prevMode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")

    // keyless identity-partitioned: static PARTITION spec replaces ONLY
    // the named region — the scoped copy-on-write / region-drop path
    val kschema = StructType(Seq(
      StructField("g", StringType), StructField("id", IntegerType),
      StructField("v", StringType)))
    val po = ManagedTable.create(spark, wh, "po", kschema,
      partitionBy = Seq("g"))
    po.append(Seq(("a", 1, "x1"), ("a", 2, "x2"), ("b", 3, "y1"), ("b", 4, "y2"))
      .toDF("g", "id", "v"))
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
      spark.sql(s"INSERT OVERWRITE $cat.po PARTITION (g='a') VALUES (9, 'z')")
      // differential oracle: same history + the SQL surface's verb
      val sib = ManagedTable.create(spark, wh, "po_oracle", kschema,
        partitionBy = Seq("g"))
      sib.append(Seq(("a", 1, "x1"), ("a", 2, "x2"), ("b", 3, "y1"), ("b", 4, "y2"))
        .toDF("g", "id", "v"))
      sib.overwriteStaticRegion(Seq("g" -> "a"), Seq(("a", 9, "z")).toDF("g", "id", "v"))
      assertSameRows(spark.sql(s"SELECT * FROM $cat.po ORDER BY g, id"),
        sib.read().orderBy("g", "id"))

      // KEYED table: the pure-region predicate takes the manifest drop
      val kt = ManagedTable.create(spark, wh, "pok", StructType(kschema.fields :+
        StructField("__op", StringType) :+ StructField("__source_ts_ns", LongType)),
        Seq("id"), partitionBy = Seq("g"))
      kt.merge(Seq(("a", 1, "x1", "c", 1L), ("b", 2, "y1", "c", 1L))
        .toDF("g", "id", "v", "__op", "__source_ts_ns"))
      spark.sql(s"INSERT OVERWRITE $cat.pok PARTITION (g='b') " +
        "VALUES (7, 'nw', 'c', CAST(2 AS BIGINT))")
      assert(spark.sql(s"SELECT g, id, v FROM $cat.pok").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2))).sorted.toSeq ==
        Seq(("a", 1, "x1"), ("b", 7, "nw")))

      // programmatic writeTo(...).overwrite(cond)
      Seq(("a", 10, "r1"), ("a", 11, "r2")).toDF("g", "id", "v")
        .writeTo(s"$cat.po").overwrite(col("g") === "a")
      assert(spark.sql(s"SELECT id FROM $cat.po WHERE g = 'a'").collect()
        .map(_.getInt(0)).sorted.toSeq == Seq(10, 11))
      assert(spark.sql(s"SELECT id FROM $cat.po WHERE g = 'b'").collect()
        .map(_.getInt(0)).sorted.toSeq == Seq(3, 4), "other region untouched")

      // replaceWhere contract: a batch row OUTSIDE the condition refuses
      // before anything commits
      val before = spark.sql(s"SELECT * FROM $cat.po").collect().length
      val eC = intercept[Exception](
        Seq(("b", 99, "bad")).toDF("g", "id", "v")
          .writeTo(s"$cat.po").overwrite(col("g") === "a"))
      assert(eC.getMessage.contains("satisfy") ||
        (eC.getCause != null && eC.getCause.getMessage.contains("satisfy")), eC.getMessage)
      assert(spark.sql(s"SELECT * FROM $cat.po").collect().length == before,
        "refused overwrite must not mutate the table")

      // untranslatable condition: Spark's standard error, table untouched
      val eU = intercept[Exception](
        Seq(("a", 1, "x")).toDF("g", "id", "v")
          .writeTo(s"$cat.po").overwrite(lower(col("g")) === "a"))
      assert(eU.getMessage.nonEmpty)
      assert(spark.sql(s"SELECT * FROM $cat.po").collect().length == before)

      // wap: overwrite-by-filter refuses mid-audit like whole-table overwrite
      try {
        spark.conf.set("spark.wap.branch", "audit")
        val eW = intercept[Exception](
          spark.sql(s"INSERT OVERWRITE $cat.po PARTITION (g='a') VALUES (0, 'w')"))
        assert(eW.getMessage.contains("WAP branch") ||
          (eW.getCause != null && eW.getCause.getMessage.contains("WAP branch")), eW.getMessage)
      } finally spark.conf.unset("spark.wap.branch")
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
  }

  test("SPJ skew: partially-clustered distribution splits a hot tuple, plan stays exchange-free") {
    val wh = tmpWarehouse()
    val kschema = StructType(Seq(
      StructField("g", IntegerType, nullable = false),
      StructField("v", IntegerType)))
    // fact: hot tuple g=1 spread over MANY files (tiny split cap), dim: one
    // row per tuple — co-partitioned identity tables
    val fact = ManagedTable.create(spark, wh, "skf", kschema, partitionBy = Seq("g"),
      properties = Map("read.v2.split-max-files" -> "1"))
    (1 to 6).foreach { _ =>
      fact.append((1 to 40).map(i => (if (i <= 36) 1 else i % 4, i)).toDF("g", "v"))
    }
    val dim = ManagedTable.create(spark, wh, "skd", kschema, partitionBy = Seq("g"))
    dim.append(Seq((0, 100), (1, 101), (2, 102), (3, 103)).toDF("g", "v"))
    val cat = registerCatalog(wh)
    val savedB = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    val savedP = spark.conf.getOption(
      "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled")
    val savedA = spark.conf.getOption("spark.sql.adaptive.enabled")
    val savedT = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
      def q = spark.sql(
        s"SELECT f.g, f.v, d.v AS dv FROM $cat.skf f JOIN $cat.skd d ON f.g = d.g")
      // grouped mode (default): exchange-free, one task per tuple
      spark.conf.set(
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled", "false")
      val grouped = q
      val gPlan = grouped.queryExecution.executedPlan.toString
      assert(!gPlan.contains("Exchange"), s"grouped SPJ must be exchange-free:\n$gPlan")
      val gRows = grouped.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
      val gParts = grouped.rdd.getNumPartitions
      // partially-clustered: STILL exchange-free, hot tuple split across tasks
      spark.conf.set(
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled", "true")
      val split = q
      val sPlan = split.queryExecution.executedPlan.toString
      assert(!sPlan.contains("Exchange"),
        s"partially-clustered SPJ must stay exchange-free:\n$sPlan")
      assert(split.rdd.getNumPartitions > gParts,
        s"hot tuple must split into more tasks (grouped=$gParts, " +
          s"split=${split.rdd.getNumPartitions})")
      assert(split.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq == gRows,
        "both modes must agree on the join result")
    } finally {
      def restore(k: String, v: Option[String]): Unit = v match {
        case Some(x) => spark.conf.set(k, x); case None => spark.conf.unset(k)
      }
      restore("spark.sql.sources.v2.bucketing.enabled", savedB)
      restore("spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled", savedP)
      restore("spark.sql.adaptive.enabled", savedA)
      restore("spark.sql.autoBroadcastJoinThreshold", savedT)
      spark.conf.unset("spark.sql.requireAllClusterKeysForCoPartition")
    }
  }

  test("V2 dynamic partition overwrite replaces exactly the batch's tuples (round 11)") {
    val wh = tmpWarehouse()
    val cat = registerCatalog(wh)
    val prevMode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    val kschema = StructType(Seq(
      StructField("g", StringType), StructField("id", IntegerType),
      StructField("v", StringType)))
    val po = ManagedTable.create(spark, wh, "dy", kschema, partitionBy = Seq("g"))
    po.append(Seq(("a", 1, "x1"), ("a", 2, "x2"), ("b", 3, "y1"), ("c", 4, "z1"))
      .toDF("g", "id", "v"))
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      // SQL spelling: no PARTITION clause — batch touches a and b only
      spark.sql(s"INSERT OVERWRITE $cat.dy VALUES ('a', 9, 'na'), ('b', 8, 'nb')")
      assert(spark.sql(s"SELECT g, id FROM $cat.dy").collect()
        .map(r => (r.getString(0), r.getInt(1))).sorted.toSeq ==
        Seq(("a", 9), ("b", 8), ("c", 4)), "untouched tuple c must survive")

      // programmatic spelling, differential vs the API verb on a sibling
      val sib = ManagedTable.create(spark, wh, "dy_oracle", kschema, partitionBy = Seq("g"))
      sib.append(Seq(("a", 1, "x1"), ("a", 2, "x2"), ("b", 3, "y1"), ("c", 4, "z1"))
        .toDF("g", "id", "v"))
      sib.overwritePartitions(Seq(("a", 9, "na"), ("b", 8, "nb")).toDF("g", "id", "v"))
      val expected = Seq(("c", 7, "nc"))
      expected.toDF("g", "id", "v").writeTo(s"$cat.dy").overwritePartitions()
      sib.overwritePartitions(expected.toDF("g", "id", "v"))
      assertSameRows(spark.sql(s"SELECT * FROM $cat.dy ORDER BY g, id"),
        sib.read().orderBy("g", "id"))

      // wap: refuses mid-audit like every overwrite, table untouched
      val before = spark.sql(s"SELECT * FROM $cat.dy").collect().length
      try {
        spark.conf.set("spark.wap.branch", "audit")
        val eW = intercept[Exception](
          spark.sql(s"INSERT OVERWRITE $cat.dy VALUES ('a', 0, 'w')"))
        assert(eW.getMessage.contains("WAP branch") ||
          (eW.getCause != null && eW.getCause.getMessage.contains("WAP branch")), eW.getMessage)
      } finally spark.conf.unset("spark.wap.branch")
      assert(spark.sql(s"SELECT * FROM $cat.dy").collect().length == before)
      // no staging debris
      val staging = new org.apache.hadoop.fs.Path(s"$wh/dy/_dyn_staging")
      val fsys = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fsys.exists(staging) || fsys.listStatus(staging).isEmpty)
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
  }
}
