package graft.catalog

import java.nio.file.Files

import graft.SharedSpark
import graft.tables.ManagedTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Exact region-predicate consumption on the V2 scan
  * ([[GraftScan.exactRegionConjunct]]): equality/IN on an identity
  * partition source is CONSUMED (no residual filter — every row of a
  * group shares its tuple), which unlocks manifest-answered aggregates
  * under WHERE (`count(*) WHERE day='x'` → a zero-job LocalScan) and
  * drops the per-row re-filter from region scans. Every exactness
  * precondition failing degrades to the residual path, never to a wrong
  * answer.
  */
class V2ExactRegionSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private def tmpWarehouse(): String =
    Files.createTempDirectory("graft-v2wh").toString

  private def registerCatalog(wh: String): String = {
    val cat = s"ger_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    cat
  }

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("day", StringType),
    StructField("v", LongType)))

  private def mkPartitioned(wh: String, name: String): ManagedTable = {
    val t = ManagedTable.create(spark, wh, name, schema, Seq.empty, Seq("day"))
    t.append((0 until 300).map(i =>
      (i, s"d${i % 3}", i.toLong)).toDF("id", "day", "v"))
    t
  }

  /** Manifest-answered: the physical plan is a LocalTableScan (the V2
    * LocalScan's exec) and reads no files — zero jobs.
    */
  private def isLocalOnly(df: DataFrame): Boolean = GraftScan.manifestAnswered(df)

  private def hasFilterNode(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
    }.nonEmpty

  test("count(*) WHERE day='x' answers from the manifest — zero jobs") {
    val wh = tmpWarehouse()
    mkPartitioned(wh, "er1")
    val cat = registerCatalog(wh)
    val df = spark.sql(s"SELECT count(*) AS c FROM $cat.er1 WHERE day = 'd1'")
    assert(isLocalOnly(df), s"expected a LocalScan:\n${df.queryExecution.optimizedPlan}")
    assert(df.as[Long].head() == 100L)
    // IN-list region union
    val in = spark.sql(s"SELECT count(*) AS c FROM $cat.er1 WHERE day IN ('d0','d2')")
    assert(isLocalOnly(in) && in.as[Long].head() == 200L)
    // empty region: count 0, still metadata-only
    val none = spark.sql(s"SELECT count(*) AS c FROM $cat.er1 WHERE day = 'nope'")
    assert(isLocalOnly(none) && none.as[Long].head() == 0L)
  }

  test("region scan consumes the filter: no Filter node, exact rows") {
    val wh = tmpWarehouse()
    val t = mkPartitioned(wh, "er2")
    val cat = registerCatalog(wh)
    val df = spark.sql(s"SELECT id, v FROM $cat.er2 WHERE day = 'd2'")
    assert(!hasFilterNode(df),
      s"region predicate must be consumed:\n${df.queryExecution.optimizedPlan}")
    assert(df.collect().map(_.getInt(0)).toSet ==
      t.read().filter(col("day") === "d2").select("id")
        .as[Int].collect().toSet)
  }

  test("keyed MoR region scan stays exact (partition-local delete scopes)") {
    val wh = tmpWarehouse()
    val cdc = StructType(schema.fields :+ StructField("__op", StringType))
    val t = ManagedTable.create(spark, wh, "er3", cdc, Seq("id"), Seq("day"))
    t.append((0 until 90).map(i => (i, s"d${i % 3}", i.toLong, "u"))
      .toDF("id", "day", "v", "__op"))
    t.merge(Seq((0, "d0", 999L, "u"), (1, "d1", 0L, "d"))
      .toDF("id", "day", "v", "__op"),
      graft.cdc.CdcApply.UpsertConfig(runDedup = false, keepDeletes = false))
    val cat = registerCatalog(wh)
    def region(d: String) =
      spark.sql(s"SELECT id, v FROM $cat.er3 WHERE day = '$d'")
        .as[(Int, Long)].collect().toSet
    assert(region("d0") == t.read().filter(col("day") === "d0")
      .select("id", "v").as[(Int, Long)].collect().toSet)
    assert(region("d0").contains((0, 999L)), "merged row must win in-region")
    assert(!region("d1").exists(_._1 == 1), "hard delete must hold in-region")
    // the MoR state blocks the AGGREGATE answer (visible rows unknowable)
    val cnt = spark.sql(s"SELECT count(*) AS c FROM $cat.er3 WHERE day = 'd0'")
    assert(!isLocalOnly(cnt))
    assert(cnt.as[Long].head() == 30L)
  }

  test("GROUP BY under a consumed region predicate answers from the manifest") {
    val wh = tmpWarehouse()
    val twoCol = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("day", StringType),
      StructField("hour", IntegerType),
      StructField("v", LongType)))
    val t = ManagedTable.create(spark, wh, "erg", twoCol, Seq.empty,
      Seq("day", "hour"))
    t.append((0 until 240).map(i =>
      (i, s"d${i % 2}", i % 4, i.toLong)).toDF("id", "day", "hour", "v"))
    val cat = registerCatalog(wh)
    // "rows per hour for day d1" — the corpus operator's hourly rollup
    // (d1 rows are the odd ids, which land only in hours 1 and 3)
    val df = spark.sql(s"SELECT hour, count(*) AS c FROM $cat.erg " +
      "WHERE day = 'd1' GROUP BY hour")
    assert(isLocalOnly(df), s"grouped region rollup must be metadata-only:\n" +
      df.queryExecution.executedPlan)
    assert(df.as[(Int, Long)].collect().toSet == Set((1, 60L), (3, 60L)))
    // grouping BY the region column itself restricts the answered tuples
    val byDay = spark.sql(s"SELECT day, count(*) AS c FROM $cat.erg " +
      "WHERE day IN ('d0') GROUP BY day")
    assert(isLocalOnly(byDay))
    assert(byDay.as[(String, Long)].collect().toSet == Set(("d0", 120L)))
  }

  test("exactness refusals stay residual: sentinel, non-identity, multi-epoch") {
    val wh = tmpWarehouse()
    val t = mkPartitioned(wh, "er4")
    val cat = registerCatalog(wh)
    // hive sentinel text could BE a stored value — must not be consumed
    val s1 = spark.sql(
      s"SELECT count(*) AS c FROM $cat.er4 WHERE day = '__HIVE_DEFAULT_PARTITION__'")
    assert(!isLocalOnly(s1) && s1.as[Long].head() == 0L)
    // non-partition column: residual with superset pruning
    val s2 = spark.sql(s"SELECT count(*) AS c FROM $cat.er4 WHERE v = 5")
    assert(!isLocalOnly(s2) && s2.as[Long].head() == 1L)
    // spec evolution → multi-epoch: region predicates stay residual
    t.updatePartitionSpec(Seq.empty)
    t.append(Seq((1000, "d1", 1000L)).toDF("id", "day", "v"))
    val s3 = spark.sql(s"SELECT count(*) AS c FROM $cat.er4 WHERE day = 'd1'")
    assert(!isLocalOnly(s3) && s3.as[Long].head() == 101L)
  }

  /** Under `spark.wap.branch` naming a live branch, `<cat>.t` reads the
    * branch's staged view. For count, min and max, the plain and the
    * region-filtered (`day = region`) query must both equal the staged
    * view's scan, and be manifest-answered alike. Returns whether each
    * aggregate was answered.
    */
  private def branchAggregates(wh: String, name: String, cat: String,
                               region: String): Seq[Boolean] = {
    val view = ManagedTable.load(spark, wh, name).get.readBranch("audit")
    val shapes = Seq("" -> view,
      s" WHERE day = '$region'" -> view.filter(col("day") === region))
    for (agg <- Seq("count(*)", "min(id)", "max(id)")) yield {
      val answered = shapes.map { case (where, want) =>
        val df = spark.sql(s"SELECT $agg FROM $cat.$name$where")
        assert(df.head().get(0) == want.selectExpr(agg).head().get(0), s"$agg$where")
        isLocalOnly(df)
      }
      assert(answered.distinct.size == 1, s"$agg answered (plain, region): $answered")
      answered.head
    }
  }

  test("wap branch: staged appends answer count/min/max from the manifest, with or without a region") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "wapa", schema, Seq("id"), Seq("day"))
    def batch(ids: Range) = ids.map(i => (i, s"d${i % 3}", i.toLong)).toDF("id", "day", "v")
    t.append(batch(0 until 60))
    t.stageAppendInto(batch(60 until 90), "audit")
    t.stageAppendInto(batch(90 until 99), "audit")
    val cat = registerCatalog(wh)
    spark.conf.set("spark.wap.branch", "audit")
    try assert(branchAggregates(wh, "wapa", cat, "d0").forall(identity))
    finally spark.conf.unset("spark.wap.branch")
  }

  test("wap branch: a staged delete keeps the scan for count/min/max, with or without a region") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "wapd", schema, Seq("id"), Seq("day"))
    def batch(ids: Range) = ids.map(i => (i, s"d${i % 3}", i.toLong)).toDF("id", "day", "v")
    t.append(batch(0 until 60))
    t.stageAppendInto(batch(60 until 90), "audit")
    val cat = registerCatalog(wh)
    spark.conf.set("spark.wap.branch", "audit")
    try {
      // ids 0, 3 and 63 all live in day d0: the staged upsert group is in
      // the region's own tuple
      spark.sql(s"DELETE FROM $cat.wapd WHERE id IN (0, 3, 63)")
      assert(ManagedTable.load(spark, wh, "wapd").get.read().count() == 60,
        "the delete must stage, not commit")
      assert(!branchAggregates(wh, "wapd", cat, "d0").exists(identity))
    } finally spark.conf.unset("spark.wap.branch")
  }
}
