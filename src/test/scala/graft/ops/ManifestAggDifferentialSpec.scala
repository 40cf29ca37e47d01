package graft.ops

import graft.SharedSpark
import graft.tables.ManagedTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Differential fold for the manifest-answered aggregates
  * ([[graft.catalog.GraftScanBuilder]] under both the SQL and the
  * `format("graft-table")` spellings):
  * random tables — group-column types, null fractions, 1–2 partition
  * dimensions, multi-batch appends, optional MoR state, optional tag —
  * and every aggregate shape asked through BOTH rewritten seams must
  * equal the scan-path answer computed on `t.read()` directly. The fold
  * never asserts WHICH path answered; it asserts the rewrite can only
  * change the plan's cost, never its answer — exactly the rule's
  * contract, pinned against randomness the curated specs don't reach.
  */
class ManifestAggDifferentialSpec extends AnyFunSuite with SharedSpark {

  test("random tables: rewritten SQL/V1 aggregates ≡ scan-path answers") {
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val b = SparkSession.builder()
        .master(base.sparkContext.master)
        .withExtensions(new graft.GraftExtensions().apply(_))
      base.conf.getAll.foreach { case (k, v) => b.config(k, v) }
      val s2 = b.getOrCreate()
      import s2.implicits._
      val wh = java.nio.file.Files.createTempDirectory("graft-madiff").toString
      s2.conf.set("spark.graft.warehouse", wh)
      val rnd = new scala.util.Random(7)

      (1 to 8).foreach { fold =>
        val name = s"dt$fold"
        val twoDims = rnd.nextBoolean()
        val gType = rnd.nextInt(3) // 0=int, 1=string, 2=date
        val nullFrac = rnd.nextInt(3) * 0.15
        val n = 120 + rnd.nextInt(120)
        def gval(i: Int): Any =
          if (rnd.nextDouble() < nullFrac) null
          else gType match {
            case 0 => Integer.valueOf(i % 4)
            case 1 => s"g${i % 4}"
            case 2 => java.sql.Date.valueOf(f"2024-01-${(i % 4) + 1}%02d")
          }
        val rows = (1 to n).map(i => (i.toLong, gval(i), i % 3, s"v$i"))
        val df = gType match {
          case 0 => rows.map { case (a, g, r, v) =>
            (a, g.asInstanceOf[Integer], r, v) }.toDF("id", "g", "r", "v")
          case 1 => rows.map { case (a, g, r, v) =>
            (a, g.asInstanceOf[String], r, v) }.toDF("id", "g", "r", "v")
          case 2 => rows.map { case (a, g, r, v) =>
            (a, g.asInstanceOf[java.sql.Date], r, v) }.toDF("id", "g", "r", "v")
        }
        val parts = if (twoDims) Seq("g", "r") else Seq("g")
        val t = ManagedTable.create(s2, wh, name, df.schema, Seq("id"), parts)
        val batches = 1 + rnd.nextInt(3)
        (0 until batches).foreach { k =>
          t.append(df.where(pmod($"id", lit(batches)) === k))
        }
        if (rnd.nextDouble() < 0.3)
          ManagedTable.load(s2, wh, name).get
            .mergeInto(df.where($"id" === 1).withColumn("v", lit("upd")))
        if (rnd.nextDouble() < 0.3)
          ManagedTable.load(s2, wh, name).get.tag("pin")

        val scan = ManagedTable.load(s2, wh, name).get.read()
        def rsSet(d: DataFrame) = d.collect().map(_.toSeq).toSet

        // flat aggregates, SQL + V1
        val wantFlat = rsSet(scan.agg(count(lit(1)).as("n"),
          min($"id").as("lo"), max($"id").as("hi")))
        assert(rsSet(s2.sql(
          s"SELECT count(*) AS n, min(id) AS lo, max(id) AS hi FROM graft.$name"))
          == wantFlat, s"fold $fold: flat SQL diverged")
        assert(rsSet(s2.read.format("graft-table").option("warehouse", wh)
          .option("table", name).load()
          .agg(count(lit(1)).as("n"), min($"id").as("lo"), max($"id").as("hi")))
          == wantFlat, s"fold $fold: flat V1 diverged")

        // grouped by every subset of the partition dims (+ DISTINCT)
        val subsets = if (twoDims) Seq(Seq("g"), Seq("r"), Seq("g", "r"))
          else Seq(Seq("g"))
        subsets.foreach { gs =>
          val gCols = gs.map(col)
          val want = rsSet(scan.groupBy(gCols: _*)
            .agg(count(lit(1)).as("n"), min($"id").as("lo"), max($"id").as("hi")))
          val sqlQ = s"SELECT ${gs.mkString(", ")}, count(*) AS n, " +
            s"min(id) AS lo, max(id) AS hi FROM graft.$name GROUP BY ${gs.mkString(", ")}"
          assert(rsSet(s2.sql(sqlQ)) == want,
            s"fold $fold: grouped SQL (${gs.mkString(",")}) diverged")
          assert(rsSet(s2.read.format("graft-table").option("warehouse", wh)
            .option("table", name).load().groupBy(gCols: _*)
            .agg(count(lit(1)).as("n"), min($"id").as("lo"), max($"id").as("hi")))
            == want, s"fold $fold: grouped V1 (${gs.mkString(",")}) diverged")
          assert(rsSet(s2.sql(
            s"SELECT DISTINCT ${gs.mkString(", ")} FROM graft.$name")) ==
            rsSet(scan.select(gCols: _*).distinct()),
            s"fold $fold: DISTINCT (${gs.mkString(",")}) diverged")
        }

        // tag-pinned aggregates, when a tag landed
        val tt = ManagedTable.load(s2, wh, name).get
        if (tt.tags().contains("pin")) {
          val pinScan = tt.readTag("pin")
          assert(rsSet(s2.sql(
            s"SELECT count(*) AS n, max(id) AS hi FROM graft.$name VERSION AS OF 'pin'"))
            == rsSet(pinScan.agg(count(lit(1)).as("n"), max($"id").as("hi"))),
            s"fold $fold: pinned-ref aggregate diverged")
        }
      }
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}
