package graft.catalog

import java.nio.file.Files

import graft.SharedSpark
import graft.tables.{ManagedTable, Manifest}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec, RowDataSourceScanExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `graft.<t>` (the [[graft.GraftExtensions]] SQL surface), `<cat>.<t>`
  * (a registered [[GraftCatalog]]) and `format("graft-table")` (the
  * DataFrame reader) are one table: every read shape returns the same rows
  * through each spelling and plans the same scan — a `BatchScan` over
  * [[GraftScan]] or a manifest-answered `LocalTableScan`, never a V1 file
  * scan.
  */
class GraftSeamIdentitySpec extends AnyFunSuite with SharedSpark with AdaptiveSparkPlanHelper {

  private def withGraftSession(wh: String)(body: SparkSession => Unit): Unit = {
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val b = SparkSession.builder()
        .master(base.sparkContext.master)
        .withExtensions(new graft.GraftExtensions().apply(_))
      base.conf.getAll.foreach { case (k, v) => b.config(k, v) }
      val s2 = b.getOrCreate()
      s2.conf.set("spark.graft.warehouse", wh)
      s2.conf.set("spark.sql.catalog.wh", classOf[GraftCatalog].getName)
      s2.conf.set("spark.sql.catalog.wh.warehouse", wh)
      body(s2)
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  /** The leaf scans of an executed plan, adaptive stages included. */
  private def scans(df: DataFrame): Seq[String] =
    collect(df.queryExecution.executedPlan) {
      case b: BatchScanExec       => b.scan.getClass.getSimpleName
      case _: LocalTableScanExec  => "LocalTableScan"
      case _: FileSourceScanExec  => "FileSourceScan"
      case _: RowDataSourceScanExec => "RowDataSourceScan"
    }.sorted

  /** The manifest group dirs a plan's splits serve, adaptive stages included. */
  private def groupDirs(df: DataFrame): Set[String] =
    collect(df.queryExecution.executedPlan) { case b: BatchScanExec => b }
      .flatMap(_.inputPartitions).collect { case p: GraftScan.GraftInputPartition => p }
      .flatMap(_.dataFiles).map(f => f.path.substring(0, f.path.lastIndexOf('/'))).toSet

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("day", StringType, nullable = false),
    StructField("v", LongType)))

  test("graft.<t> and <cat>.<t> return equal rows and plan the same scan for every read shape") {
    val wh = Files.createTempDirectory("graft-seam").toString
    withGraftSession(wh) { s2 =>
      import s2.implicits._
      def batch(ids: Range) = ids.map(i => (i, s"d${i % 3}", i.toLong * 10)).toDF("id", "day", "v")
      // all-data: manifest-answerable aggregates, truncatable LIMIT/top-N
      val keep = Map("write.versions-retained" -> "10")
      val plain = ManagedTable.create(s2, wh, "plain", schema, Seq("id"),
        partitionBy = Seq("day"), properties = keep)
      plain.append(batch(0 until 20))
      val firstVersion = scala.collection.mutable.Map("plain" -> plain.meta.currentVersion)
      plain.append(batch(20 until 40))
      plain.tag("pin")
      plain.append(batch(40 until 60))
      // MoR: an upsert group hides older rows; a staged branch on top
      val mor = ManagedTable.create(s2, wh, "mor", schema, Seq("id"),
        partitionBy = Seq("day"), properties = keep)
      mor.append(batch(0 until 30))
      firstVersion("mor") = mor.meta.currentVersion
      mor.mergeInto(Seq((3, "d0", -1L), (4, "d1", -2L)).toDF("id", "day", "v"))
      // the same MoR shape stored as ORC groups
      val orct = ManagedTable.create(s2, wh, "orct", schema, Seq("id"),
        partitionBy = Seq("day"), properties = keep + ("write.format-default" -> "orc"))
      orct.append(batch(0 until 30))
      firstVersion("orct") = orct.meta.currentVersion
      orct.mergeInto(Seq((3, "d0", -1L), (4, "d1", -2L)).toDF("id", "day", "v"))
      assert(rows(s2.sql("SELECT * FROM graft.orct")) == rows(orct.read()))
      mor.createBranch("audit")
      mor.stageAppendInto(batch(100 until 105), "audit")

      def agree(graftSql: String, whSql: String): Unit = {
        val (g, w) = (s2.sql(graftSql), s2.sql(whSql))
        assert(rows(g) == rows(w), s"rows differ:\n  $graftSql\n  $whSql")
        val (gs, ws) = (scans(g), scans(w))
        assert(gs == ws, s"scans differ for $graftSql: $gs vs $ws")
        assert(gs.nonEmpty && gs.forall(Set("GraftScan", "LocalTableScan").contains),
          s"$graftSql must plan a GraftScan or a manifest answer, got $gs:\n" +
            g.queryExecution.executedPlan)
      }
      def same(sql: String): Unit =
        agree(sql.replace("$T", "graft."), sql.replace("$T", "wh."))

      // the DataFrame spelling: same rows, scans and served groups as SQL
      def v1(t: String, ref: Any = null): DataFrame = {
        val r = s2.read.format("graft-table").option("table", t)
        Option(ref).fold(r)(v => r.option("versionAsOf", v.toString)).load()
      }
      def third(graftSql: String, df: DataFrame): Unit = {
        val g = s2.sql(graftSql)
        assert(rows(df) == rows(g), s"rows differ: $graftSql")
        assert(scans(df) == scans(g), s"scans differ for $graftSql: ${scans(df)} vs ${scans(g)}")
        assert(groupDirs(df) == groupDirs(g), s"served groups differ for $graftSql")
      }
      import org.apache.spark.sql.functions.{count, lit, max, min, sum}

      for (t <- Seq("plain", "mor", "orct")) {
        def both(shape: String): Unit = same(shape.replace("$1", t))
        both("SELECT * FROM $T$1")
        both("SELECT * FROM $T$1 WHERE id = 7")
        both("SELECT id, v FROM $T$1 WHERE id > 20 AND day = 'd1'")
        both("SELECT * FROM $T$1 WHERE id IN (1, 2, 3)")
        both("SELECT * FROM $T$1 WHERE id = -1")
        both("SELECT id FROM $T$1 ORDER BY id LIMIT 5")
        both("SELECT id, v FROM $T$1 ORDER BY v DESC LIMIT 3")
        both("SELECT count(*), min(id), max(id) FROM $T$1")
        both("SELECT day, count(*) AS n, max(id) FROM $T$1 GROUP BY day")
        both("SELECT day, sum(v) FROM $T$1 WHERE id > 3 GROUP BY day")
        both(s"SELECT * FROM $$T$$1 VERSION AS OF ${firstVersion(t)}")
        both("SELECT * FROM $T$1 TIMESTAMP AS OF '2999-01-01'")
        for (m <- Seq("files", "snapshots", "refs", "partitions"))
          agree(s"SELECT * FROM graft.`$t$$$m`", s"SELECT * FROM wh.`$t$$$m`")
        agree(s"SELECT * FROM graft.`$t$$v${firstVersion(t)}`",
          s"SELECT * FROM wh.$t VERSION AS OF ${firstVersion(t)}")
        // a bare LIMIT may serve any rows: compare the count
        val lim = s2.sql(s"SELECT * FROM graft.$t LIMIT 4")
        assert(lim.count() == 4 && scans(lim) == scans(s2.sql(s"SELECT * FROM wh.$t LIMIT 4")))
        assert(v1(t).limit(4).count() == 4 && scans(v1(t).limit(4)) == scans(lim))

        third(s"SELECT * FROM graft.$t", v1(t))
        third(s"SELECT * FROM graft.$t WHERE id = 7", v1(t).where(col("id") === 7))
        third(s"SELECT id, v FROM graft.$t WHERE id > 20 AND day = 'd1'",
          v1(t).where(col("id") > 20 && col("day") === "d1").select("id", "v"))
        third(s"SELECT * FROM graft.$t WHERE id IN (1, 2, 3)", v1(t).where(col("id").isin(1, 2, 3)))
        third(s"SELECT * FROM graft.$t WHERE id = -1", v1(t).where(col("id") === -1))
        third(s"SELECT id FROM graft.$t ORDER BY id LIMIT 5", v1(t).select("id").orderBy("id").limit(5))
        third(s"SELECT id, v FROM graft.$t ORDER BY v DESC LIMIT 3",
          v1(t).select("id", "v").orderBy(col("v").desc).limit(3))
        third(s"SELECT count(*), min(id), max(id) FROM graft.$t",
          v1(t).agg(count(lit(1)), min("id"), max("id")))
        third(s"SELECT day, count(*) AS n, max(id) FROM graft.$t GROUP BY day",
          v1(t).groupBy("day").agg(count(lit(1)).as("n"), max("id")))
        third(s"SELECT day, sum(v) FROM graft.$t WHERE id > 3 GROUP BY day",
          v1(t).where(col("id") > 3).groupBy("day").agg(sum("v")))
        third(s"SELECT * FROM graft.$t VERSION AS OF ${firstVersion(t)}", v1(t, firstVersion(t)))
      }
      third("SELECT count(*) FROM graft.plain VERSION AS OF 'pin'", v1("plain", "pin").agg(count(lit(1))))
      third("SELECT * FROM graft.`mor$branch_audit`", v1("mor", "audit"))
      same("SELECT count(*) FROM $Tplain VERSION AS OF 'pin'")
      agree("SELECT * FROM graft.`mor$branch_audit`", "SELECT * FROM wh.mor VERSION AS OF 'audit'")
      s2.conf.set("spark.wap.branch", "audit")
      try {
        same("SELECT * FROM $Tmor")
        same("SELECT count(*) FROM $Tmor WHERE id >= 100")
        third("SELECT * FROM graft.mor", v1("mor"))
        third("SELECT count(*) FROM graft.mor WHERE id >= 100",
          v1("mor").where(col("id") >= 100).agg(count(lit(1))))
        assert(s2.sql("SELECT count(*) FROM graft.mor WHERE id >= 100").head().getLong(0) == 5L)
      } finally s2.conf.unset("spark.wap.branch")
      // the suffix grammar lives in the catalog: unknown refs stay no table
      assert(intercept[Exception](s2.sql("SELECT * FROM graft.`mor$branch_nope`"))
        .getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"))
    }
  }

  test("format(\"graft-table\") aggregates are manifest-answered without the extensions") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{count, lit, max, min}
    val wh = Files.createTempDirectory("graft-seam-noext").toString
    val t = ManagedTable.create(spark, wh, "agg", schema, Seq("id"), partitionBy = Seq("day"))
    def batch(ids: Range) = ids.map(i => (i, s"d${i % 3}", i.toLong)).toDF("id", "day", "v")
    t.append(batch(0 until 20))
    t.append(batch(20 until 40))
    val rel = spark.read.format("graft-table").option("warehouse", wh).option("table", "agg").load()
    val flat = rel.agg(count(lit(1)), min("id"), max("id"))
    assert(GraftScan.manifestAnswered(flat), flat.queryExecution.executedPlan.toString)
    assert(rows(flat) == Seq("40|0|39"))
    val byDay = rel.groupBy("day").agg(count(lit(1)).as("n"), max("id"))
    assert(GraftScan.manifestAnswered(byDay), byDay.queryExecution.executedPlan.toString)
    assert(rows(byDay) == rows(t.read().groupBy("day").agg(count(lit(1)).as("n"), max("id"))))
  }

  /** `graft.<t>` and `wh.<t>` return `expected` (and the V1 read's rows)
    * through a GraftScan.
    */
  private def readsAs(s2: SparkSession, t: ManagedTable, expected: Seq[String]): Unit = {
    assert(rows(t.read()) == expected, s"V1 read of ${t.name}")
    for (rel <- Seq("graft.", "wh.")) {
      val df = s2.sql(s"SELECT * FROM $rel${t.name}")
      assert(rows(df) == expected, s"$rel${t.name}")
      assert(scans(df) == Seq("GraftScan"), s"$rel${t.name}: ${scans(df)}")
    }
  }

  test("JSON metadata tables read through both spellings") {
    val wh = Files.createTempDirectory("graft-seam-json").toString
    withGraftSession(wh) { s2 =>
      import graft.tables.ParityStores
      ParityStores.saveOffsets(s2, wh, Map("file" -> "a.json", "pos" -> "1"))
      ParityStores.saveOffsets(s2, wh, Map("file" -> "b.json", "pos" -> "7"))
      ParityStores.storeHistoryRecord(s2, wh, """{"ddl":"CREATE TABLE t1"}""")
      ParityStores.storeHistoryRecord(s2, wh, """{"ddl":"ALTER TABLE t1"}""")
      val offsets = ManagedTable.load(s2, wh, ParityStores.OffsetTable).get
      val history = ManagedTable.load(s2, wh, ParityStores.HistoryTable).get
      assert(offsets.meta.properties("write.format-default") == "json")
      // the overwrite left one offset row; history appended two
      readsAs(s2, offsets, rows(offsets.read()))
      assert(s2.sql(s"SELECT offset_data FROM graft.${ParityStores.OffsetTable}")
        .collect().map(_.getString(0)).toSeq == Seq("""{"file":"b.json","pos":"7"}"""))
      readsAs(s2, history, rows(history.read()))
      assert(s2.sql(s"SELECT history_data FROM wh.${ParityStores.HistoryTable}")
        .collect().map(_.getString(0)).toSet ==
        Set("""{"ddl":"CREATE TABLE t1"}""", """{"ddl":"ALTER TABLE t1"}"""))
    }
  }

  test("an identifier column with rename lineage or an initial default folds before delete matching") {
    val wh = Files.createTempDirectory("graft-seam-idfold").toString
    withGraftSession(wh) { s2 =>
      import s2.implicits._
      val t = ManagedTable.create(s2, wh, "rk", StructType(Seq(
        StructField("id", IntegerType, nullable = false),
        StructField("a", StringType),
        StructField("v", LongType))), Seq("id"))
      t.append((0 until 10).map(i => (i, s"k$i", i.toLong)).toDF("id", "a", "v"))
      // the files written so far hold the key under its prior name `a`
      t.renameColumn("a", "b")
      t.setIdentifierFields(Seq("b"))
      t.mergeInto(Seq((30, "k3", -3L), (40, "k4", -4L)).toDF("id", "b", "v"))
      assert(t.filesMetadata().where(col("kind") === Manifest.Upsert).count() > 0 &&
        t.filesMetadata().where(col("kind") === Manifest.PosDel).count() == 0,
        "the upserts must resolve by key at read time")
      readsAs(s2, t, (0 until 10).map {
        case 3 => "30|k3|-3"
        case 4 => "40|k4|-4"
        case i => s"$i|k$i|$i"
      }.sorted)

      // rows written before `c` existed hold no value: the initial default keys them
      val d = ManagedTable.create(s2, wh, "dk", schema, Seq("id"))
      d.append((0 until 6).map(i => (i, "d", i.toLong)).toDF("id", "day", "v"))
      d.addColumn(StructField("c", StringType), default = Some("x"))
      d.setIdentifierFields(Seq("id", "c"))
      d.mergeInto(Seq((2, "d", -2L, "x"), (5, "d", -5L, "y")).toDF("id", "day", "v", "c"))
      readsAs(s2, d, ((0 until 6).map {
        case 2 => "2|d|-2|x"
        case i => s"$i|d|$i|x"
      } :+ "5|d|-5|y").sorted)
    }
  }

  test("a read pruned down to posdel sidecars is empty through every spelling") {
    val wh = Files.createTempDirectory("graft-seam-posdel").toString
    withGraftSession(wh) { s2 =>
      import s2.implicits._
      val t = ManagedTable.create(s2, wh, "dv", schema, Seq("id"),
        properties = Map("write.mor.posdel-on-commit" -> "always"))
      t.append((0 until 50).map(i => (i, "d", i.toLong)).toDF("id", "day", "v"))
      for (k <- 0 until 3)
        t.mergeInto((k * 10 until k * 10 + 5).map(i => (i, "d", -i.toLong))
          .toDF("id", "day", "v"))
      assert(t.filesMetadata().where(col("kind") === Manifest.PosDel).count() > 0,
        "the table must carry posdel sidecars")
      def v1 = s2.read.format("graft-table").option("warehouse", wh).option("table", "dv").load()
      for (cond <- Seq("id = -1", "id > 100000000")) {
        for (rel <- Seq("graft.dv", "wh.dv"))
          assert(s2.sql(s"SELECT * FROM $rel WHERE $cond").collect().isEmpty, s"$rel WHERE $cond")
        assert(v1.where(cond).collect().isEmpty, s"graft-table WHERE $cond")
      }
      assert(s2.sql("SELECT count(*) FROM graft.dv WHERE id >= 0").head().getLong(0) == 50L)
    }
  }

  test("the shared delete-state cache evicts the least recently used key") {
    val prefix = s"lru-${java.util.UUID.randomUUID()}-"
    var builds = 0
    def get(i: Int): AnyRef =
      GraftPartitionReader.sharedState(prefix + i) { builds += 1; new Object }
    val n = GraftPartitionReader.MaxStateKeys
    val first = (0 until n).map(get)
    assert(get(0) eq first(0)) // a hit makes key 0 the most recently used
    get(n) // the 65th key evicts the least recently used one: key 1
    val before = builds
    assert(get(0) eq first(0), "the most recently hit key must survive")
    assert(builds == before)
    get(1)
    assert(builds == before + 1, "the least recently used key must be evicted")
  }
}
