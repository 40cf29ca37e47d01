package graft.tables

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** [[ManagedTable.readSourceRange]] — manifest tuple pruning from a range
  * on the partition SOURCE column (time-window reads on a day-partitioned
  * log open only the touched days).
  */
class SourceRangePruneSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private def mkDayTable(wh: String, name: String): ManagedTable = {
    val df = Seq((1L, "2024-01-01 10:00:00", 1.0)).toDF("id", "ts", "v")
      .select(col("id"), col("ts").cast("timestamp").as("ts"), col("v"))
    val t = ManagedTable.create(spark, wh, name, df.schema, Seq("id"),
      partitionBy = Seq("day(ts)"))
    val rows = (0 until 30).map { i =>
      (i.toLong, f"2024-01-${i % 6 + 1}%02d ${i % 24}%02d:00:00", i.toDouble)
    }
    t.append(rows.toDF("id", "ts", "v")
      .select(col("id"), col("ts").cast("timestamp").as("ts"), col("v")))
    t
  }

  test("day-window read prunes to the touched days' groups; results exact") {
    val wh = java.nio.file.Files.createTempDirectory("graft-srp").toString
    val t = mkDayTable(wh, "log")
    val lo = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
    val hi = java.sql.Timestamp.valueOf("2024-01-03 23:59:59")
    val got = t.readSourceRange("ts", Some(lo), Some(hi))
    val want = t.read().filter(col("ts").between(lit(lo), lit(hi)))
    assert(got.select("id").as[Long].collect().toSet ==
      want.select("id").as[Long].collect().toSet)
    assert(got.inputFiles.length < t.read().inputFiles.length,
      s"no tuple pruning: ${got.inputFiles.length}")
    // open bounds
    assert(t.readSourceRange("ts", Some(hi), None).count() ==
      t.read().filter(col("ts") >= lit(hi)).count())
    // non-source / bucket columns refuse
    assertThrows[IllegalArgumentException] {
      t.readSourceRange("v", Some(1.0), None)
    }
    // an uncastable bound fails fast, not deep in the tuple comparator
    assertThrows[IllegalArgumentException] {
      t.readSourceRange("ts", Some("not-a-date"), None).count()
    }
  }

  test("re-widthed truncate epochs: bounds are transformed per epoch, never cross-applied") {
    val wh = java.nio.file.Files.createTempDirectory("graft-srp-rw").toString
    val df0 = Seq((1L, "apple"), (2L, "apricot"), (3L, "zebra")).toDF("id", "name")
    val t = ManagedTable.create(spark, wh, "fruits", df0.schema, Seq("id"),
      partitionBy = Seq("truncate(name,4)"))
    t.append(df0) // epoch 0: width-4 tuples appl/apri/zebr
    t.updatePartitionSpec(Seq("truncate(name,8)"))
    // epoch 1: width-8 tuples. 'apric' satisfies name <= 'apricot' but its
    // tuple 'apric' > the WIDTH-4 bound 'apri' — the cross-epoch bug
    // wrongly pruned this group (silent missing rows).
    t.append(Seq((4L, "apric"), (5L, "apricorn"), (6L, "zucchini")).toDF("id", "name"))
    def ids(lo: Option[String], hi: Option[String]): Set[Long] =
      t.readSourceRange("name", lo, hi).select("id").as[Long].collect().toSet
    def want(lo: Option[String], hi: Option[String]): Set[Long] = {
      var d = t.read()
      lo.foreach(v => d = d.filter(col("name") >= lit(v)))
      hi.foreach(v => d = d.filter(col("name") <= lit(v)))
      d.select("id").as[Long].collect().toSet
    }
    for ((lo, hi) <- Seq(
        (None, Some("apricot")), (Some("apricot"), None),
        (Some("app"), Some("apricorn")), (None, Some("apric")),
        (Some("z"), None), (None, Some("a")))) {
      assert(ids(lo, hi) == want(lo, hi), s"range [$lo, $hi]")
    }
    // still actually prunes: a window touching only the ap* families must
    // not open either epoch's z* group
    val pruned = t.readSourceRange("name", Some("a"), Some("b"))
    assert(pruned.inputFiles.length < t.read().inputFiles.length)
    // narrowing evolution too (8 -> 3): third epoch, same invariant
    t.updatePartitionSpec(Seq("truncate(name,3)"))
    t.append(Seq((7L, "apr"), (8L, "applesauce")).toDF("id", "name"))
    for ((lo, hi) <- Seq((None, Some("apricot")), (Some("appl"), Some("apz"))))
      assert(ids(lo, hi) == want(lo, hi), s"post-narrow range [$lo, $hi]")
  }

  test("SQL time-window over graft.<t> plans the tuple-pruned scan") {
    val base = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val b = org.apache.spark.sql.SparkSession.builder()
        .master(base.sparkContext.master)
        .withExtensions(new graft.GraftExtensions().apply(_))
      base.conf.getAll.foreach { case (k, v) => b.config(k, v) }
      val s2 = b.getOrCreate()
      val wh = java.nio.file.Files.createTempDirectory("graft-srp-sql").toString
      s2.conf.set("spark.graft.warehouse", wh)
      val t = mkDayTable(wh, "log2")
      // graft.<t> is a V2 relation: count the manifest groups its scan serves
      def served(df: org.apache.spark.sql.DataFrame): Int =
        graft.catalog.GraftScan.servedGroupDirs(df)
      val all = served(s2.sql("SELECT * FROM graft.log2"))
      val q = s2.sql("""SELECT id FROM graft.log2
        WHERE ts >= TIMESTAMP '2024-01-02 00:00:00'
          AND ts < TIMESTAMP '2024-01-03 00:00:00'""")
      val want = t.read()
        .filter(col("ts") >= lit(java.sql.Timestamp.valueOf("2024-01-02 00:00:00")) &&
          col("ts") < lit(java.sql.Timestamp.valueOf("2024-01-03 00:00:00")))
        .select("id").as(org.apache.spark.sql.Encoders.scalaLong).collect().toSet
      assert(q.collect().map(_.getLong(0)).toSet == want)
      assert(served(q) < all, s"SQL window not pruned: ${served(q)} vs $all")
      // identity-partition equality also tuple-prunes via the range path
      val t3 = {
        val df = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0))
          .toDF("id", "grp", "v")
        val x = ManagedTable.create(s2, wh, "log3", df.schema, Seq("id"),
          partitionBy = Seq("grp"))
        x.append(df); x
      }
      val eq = s2.sql("SELECT id FROM graft.log3 WHERE grp = 'a'")
      assert(eq.collect().map(_.getLong(0)).toSet == Set(1L, 3L))
      assert(served(eq) < served(s2.sql("SELECT * FROM graft.log3")))
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(base)
      org.apache.spark.sql.SparkSession.setActiveSession(base)
    }
  }
}
