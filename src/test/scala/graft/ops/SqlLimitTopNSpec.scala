package graft.ops

import graft.SharedSpark
import graft.tables.ManagedTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `SELECT … FROM graft.t [ORDER BY c] LIMIT n` — group truncation over
  * the graft SQL surface. `graft.<t>` reads the DSv2 table, so LIMIT and
  * top-N push into [[graft.catalog.GraftScanBuilder]] and truncate by the
  * [[graft.tables.StatsPrune]] rules. Sort/Limit stay in the plan, so
  * results are exact; ineligible shapes read everything.
  */
class SqlLimitTopNSpec extends AnyFunSuite with SharedSpark {

  private def withSqlSession(body: SparkSession => Unit): Unit = {
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val b = SparkSession.builder()
        .master(base.sparkContext.master)
        .withExtensions(new graft.GraftExtensions().apply(_))
      base.conf.getAll.foreach { case (k, v) => b.config(k, v) }
      body(b.getOrCreate())
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("ts", LongType),
    StructField("name", StringType)))

  /** Manifest groups the V2 plan serves. */
  private def groups(df: DataFrame): Int = graft.catalog.GraftScan.servedGroupDirs(df)

  test("LIMIT and ORDER BY … LIMIT read only the needed groups; exact rows") {
    withSqlSession { s2 =>
      import s2.implicits._
      val wh = java.nio.file.Files.createTempDirectory("graft-sqllim-wh").toString
      s2.conf.set("spark.graft.warehouse", wh)
      val t = ManagedTable.create(s2, wh, "ev", schema, Seq.empty, Seq.empty,
        Map("write.cluster-by" -> "ts"))
      (0 until 5).foreach { k =>
        t.append((0 until 100).map(i =>
          (k * 100 + i, (k * 100 + i).toLong, s"n$i")).toDF("id", "ts", "name"))
      }
      val full = s2.sql("SELECT id, ts FROM graft.ev")
      val lim = s2.sql("SELECT id, ts FROM graft.ev LIMIT 10")
      assert(lim.count() == 10)
      assert(groups(lim) < groups(full), "LIMIT must read a strict subset of groups")

      val topAsc = s2.sql("SELECT id, ts FROM graft.ev ORDER BY ts LIMIT 5")
      assert(topAsc.as[(Int, Long)].collect().toSeq ==
        (0 until 5).map(i => (i, i.toLong)))
      assert(groups(topAsc) < groups(full), "top-N must read only boundary groups")

      val topDesc = s2.sql("SELECT id, ts FROM graft.ev ORDER BY ts DESC LIMIT 5")
      assert(topDesc.as[(Int, Long)].collect().toSeq ==
        (499 to 495 by -1).map(i => (i, i.toLong)))
      assert(groups(topDesc) < groups(full))

      // alias through a subquery name survives the rewrite
      val aliased = s2.sql(
        "SELECT x.id FROM graft.ev x ORDER BY x.ts LIMIT 3")
      assert(aliased.collect().map(_.getInt(0)).toSeq == Seq(0, 1, 2))
    }
  }

  test("ineligible shapes keep exact full-plan semantics") {
    withSqlSession { s2 =>
      import s2.implicits._
      val wh = java.nio.file.Files.createTempDirectory("graft-sqllim-wh").toString
      s2.conf.set("spark.graft.warehouse", wh)
      val cdc = StructType(schema.fields :+ StructField("__op", StringType))
      val t = ManagedTable.create(s2, wh, "mor", cdc, Seq("id"))
      t.append((0 until 100).map(i => (i, i.toLong, s"n$i", "u"))
        .toDF("id", "ts", "name", "__op"))
      t.merge(Seq((0, 999L, "redone", "u")).toDF("id", "ts", "name", "__op"),
        graft.cdc.CdcApply.UpsertConfig(runDedup = false))
      // MoR state: the truncation steps aside; the merged row must win
      val top = s2.sql("SELECT id, ts FROM graft.mor ORDER BY ts DESC LIMIT 1")
        .as[(Int, Long)].collect().toSeq
      assert(top == Seq((0, 999L)), s"MoR visibility must hold under LIMIT: $top")
      // a WHERE between Sort and relation: normal path (filter semantics)
      val filtered = s2.sql(
        "SELECT id FROM graft.mor WHERE ts < 50 ORDER BY ts LIMIT 3")
        .collect().map(_.getInt(0)).toSeq
      assert(filtered == Seq(1, 2, 3))
    }
  }

  test("ORDER BY a struct field never prunes on a same-named column") {
    withSqlSession { s2 =>
      import s2.implicits._
      val wh = java.nio.file.Files.createTempDirectory("graft-sqllim-wh").toString
      s2.conf.set("spark.graft.warehouse", wh)
      // top-level ts (clustered, with stats) and struct n.ts, UNCORRELATED:
      // pruning on ts's bounds would drop the group holding n.ts's minimum
      val df = (0 until 100).map(i => (i, i.toLong, (99 - i).toLong))
        .toDF("id", "ts", "inner_ts")
        .select(org.apache.spark.sql.functions.col("id"),
          org.apache.spark.sql.functions.col("ts"),
          org.apache.spark.sql.functions.struct(
            org.apache.spark.sql.functions.col("inner_ts").as("ts")).as("n"))
      val t = ManagedTable.create(s2, wh, "nested", df.schema, Seq.empty, Seq.empty,
        Map("write.cluster-by" -> "ts"))
      t.append(df.where(org.apache.spark.sql.functions.col("ts") < 50))
      t.append(df.where(org.apache.spark.sql.functions.col("ts") >= 50))
      val got = s2.sql("SELECT id FROM graft.nested ORDER BY n.ts LIMIT 1")
        .collect().map(_.getInt(0)).toSeq
      // the true n.ts minimum (0) lives at id=99 — in the SECOND group,
      // which a ts-stats prune would have dropped
      assert(got == Seq(99), s"struct-field ORDER BY mispruned: $got")
    }
  }
}
