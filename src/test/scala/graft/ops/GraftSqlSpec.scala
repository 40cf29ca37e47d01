package graft.ops

import graft.SharedSpark
import graft.tables.ManagedTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** SQL-first access to managed tables via the injected resolution rule:
  * `SELECT * FROM graft.<table>` and the $-suffixed metadata/time-travel
  * identifiers, with no view registration.
  */
class GraftSqlSpec extends AnyFunSuite with SharedSpark {

  test("graft.<table> SQL resolution: current snapshot, time travel, metadata, changes") {
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // conf-copied sibling session (see DecimalFromBytesSpec: while this
      // exists it is the JVM default session for conf fallback)
      val b = SparkSession.builder()
        .master(base.sparkContext.master)
        .withExtensions(new graft.GraftExtensions().apply(_))
      base.conf.getAll.foreach { case (k, v) => b.config(k, v) }
      val s2 = b.getOrCreate()
      import s2.implicits._

      val wh = java.nio.file.Files.createTempDirectory("graft-sql-wh").toString
      s2.conf.set("spark.graft.warehouse", wh)
      val schema = StructType(Seq(
        StructField("id", IntegerType, nullable = false),
        StructField("name", StringType),
        StructField("__op", StringType),
        StructField("__ts", LongType)))
      val t = ManagedTable.create(s2, wh, "users", schema, Seq("id"))
      t.append(Seq((1, "a", "c", 1L), (2, "b", "c", 1L)).toDF("id", "name", "__op", "__ts"))
      val v1 = t.meta.currentVersion
      t.merge(Seq((2, "b2", "u", 2L)).toDF("id", "name", "__op", "__ts"),
        graft.cdc.CdcApply.UpsertConfig(dedupColumn = "__ts"))

      // current snapshot, predicate pushdown and aggregation through SQL
      val cur = s2.sql("SELECT name FROM graft.users WHERE id = 2").collect()
      assert(cur.map(_.getString(0)).toSeq == Seq("b2"))
      assert(s2.sql("SELECT count(*) AS n FROM graft.users").collect().head.getLong(0) == 2)
      // joins between graft relations work like any other
      val joined = s2.sql(
        """SELECT a.id FROM graft.users a JOIN graft.users b ON a.id = b.id""").count()
      assert(joined == 2)

      // time travel by version identifier
      val old = s2.sql(s"SELECT name FROM graft.`users$$v$v1` WHERE id = 2").collect()
      assert(old.map(_.getString(0)).toSeq == Seq("b"))

      // metadata tables
      val kinds = s2.sql("SELECT kind FROM graft.`users$files`").collect()
        .map(_.getString(0)).toSet
      assert(kinds == Set("data", "upsert"))
      assert(s2.sql("SELECT count(*) FROM graft.`users$snapshots`")
        .collect().head.getLong(0) >= 2)
      t.tag("pin")
      assert(s2.sql("SELECT name FROM graft.`users$refs` WHERE type = 'tag'")
        .collect().map(_.getString(0)).toSeq == Seq("pin"))
      // changelog: NET per-key changes over (0, current] with seq column —
      // the upsert's winner supersedes the append's id=2 row in-range
      val changes = s2.sql(
        s"SELECT id, name, ${ManagedTable.SeqCol} AS seq FROM graft.`users$$changes`")
        .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
      assert(changes == Set((1, "a", 1L), (2, "b2", 2L)), s"changelog: $changes")

      // unknown table falls through to Spark's normal error
      val err = intercept[Exception] { s2.sql("SELECT * FROM graft.nope").collect() }
      assert(err.getMessage.toLowerCase.contains("table or view not found") ||
        err.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"))
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("WHERE col = literal over graft.<t> plans the manifest-pruned scan") {
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

      val wh = java.nio.file.Files.createTempDirectory("graft-sqlb-wh").toString
      s2.conf.set("spark.graft.warehouse", wh)
      val schema = StructType(Seq(
        StructField("id", IntegerType, nullable = false),
        StructField("tag", StringType),
        StructField("v", LongType)))
      val t = ManagedTable.create(s2, wh, "bl", schema, Seq("id"))
      t.append((1 to 40).map(i => (i, s"x$i", i.toLong)).toDF("id", "tag", "v"))
      t.append((41 to 80).map(i => (i, s"y$i", i.toLong)).toDF("id", "tag", "v"))
      t.buildBlooms(Seq("tag"))

      // graft.<t> is a V2 relation: count the manifest groups its scan serves
      def served(df: org.apache.spark.sql.DataFrame): Int =
        graft.catalog.GraftScan.servedGroupDirs(df)
      val all = served(s2.sql("SELECT * FROM graft.bl"))
      val q = s2.sql("SELECT id FROM graft.bl WHERE tag = 'y55' AND v > 0")
      assert(q.collect().map(_.getInt(0)).toSeq == Seq(55))
      assert(served(q) < all,
        s"no pruning through SQL: ${served(q)} vs $all")
      // literal-on-left and cross-type literal both prune and stay correct
      assert(s2.sql("SELECT id FROM graft.bl WHERE 'x7' = tag").collect()
        .map(_.getInt(0)).toSeq == Seq(7))
      val byV = s2.sql("SELECT id FROM graft.bl WHERE v = 63") // int lit, long col
      assert(byV.collect().map(_.getInt(0)).toSeq == Seq(63))
      // no-equality predicates fall back to the plain scan, same results
      assert(s2.sql("SELECT count(*) FROM graft.bl WHERE tag LIKE 'x%'")
        .collect().head.getLong(0) == 40)
      // IN lists prune (round 9): bounds + Bloom per value — both probes
      // land in the second group, the first is never opened
      val inQ = s2.sql("SELECT id FROM graft.bl WHERE tag IN ('y55', 'y60')")
      assert(inQ.collect().map(_.getInt(0)).toSet == Set(55, 60))
      assert(served(inQ) < all,
        s"no IN pruning through SQL: ${served(inQ)} vs $all")
      // a NULL member never matches a row; remaining values still exact
      assert(s2.sql("SELECT id FROM graft.bl WHERE tag IN ('x7', NULL)")
        .collect().map(_.getInt(0)).toSet == Set(7))
      // time-travel reads prune too (round 9): the tag's pinned manifest
      // carries the same bounds/Blooms as the live one
      ManagedTable.load(s2, wh, "bl").get.tag("pin")
      val ttQ = s2.sql("SELECT id FROM graft.bl VERSION AS OF 'pin' WHERE tag = 'y55'")
      assert(ttQ.collect().map(_.getInt(0)).toSeq == Seq(55))
      assert(served(ttQ) < all,
        s"no pruning through SQL time travel: ${served(ttQ)} vs $all")
      // projection parity (round 9): a PRUNED time-travel read must keep
      // the same columns as the unpruned one — the table schema, like a
      // live read; the derived partition column is a metadata column, so
      // a filter naming it still resolves, and a filter on the partition
      // source still prunes
      val tp = ManagedTable.create(s2, wh, "blp", StructType(Seq(
        StructField("id", IntegerType, nullable = false),
        StructField("ts", TimestampType))), Seq("id"),
        partitionBy = Seq("day(ts)"))
      tp.append(s2.sql(
        """SELECT CAST(id AS INT) AS id,
          |  timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,CAST(id % 3 AS INT)) AS ts
          |FROM range(1, 40)""".stripMargin))
      tp.tag("p0")
      val bare = s2.sql("SELECT * FROM graft.blp VERSION AS OF 'p0'")
      val prunedTt = s2.sql("SELECT * FROM graft.blp VERSION AS OF 'p0' WHERE id = 7")
      assert(prunedTt.columns.toSeq == bare.columns.toSeq,
        s"pruned TT changed the schema: ${prunedTt.columns.toSeq} vs ${bare.columns.toSeq}")
      assert(bare.columns.toSeq == Seq("id", "ts"))
      assert(prunedTt.count() == 1)
      // a filter naming the derived partition column resolves either way
      for (tt <- Seq(" VERSION AS OF 'p0'", ""))
        assert(s2.sql(s"SELECT id FROM graft.blp$tt " +
          "WHERE id <= 10 AND ts_day = '2024-01-02'").count() ==
          (1 to 10).count(_ % 3 == 1), s"ts_day filter on graft.blp$tt")
      val dayTt = s2.sql("SELECT id FROM graft.blp VERSION AS OF 'p0' " +
        "WHERE id <= 10 AND ts >= timestamp'2024-01-02 00:00:00' " +
        "AND ts < timestamp'2024-01-03 00:00:00'")
      assert(dayTt.count() == (1 to 10).count(_ % 3 == 1))
      assert(served(dayTt) < served(bare), "a source-range TT read must prune")
      // TIGHTEST-BOUND fold (round 10): stacked bounds on one column
      // prune at the strictest one — `id > 5 AND id > 50` opens only the
      // second group (41..80), not both (the first-listed bound 5 would)
      val oneGroup = served(s2.sql("SELECT id FROM graft.bl WHERE id > 50"))
      val tb = s2.sql("SELECT id FROM graft.bl WHERE id > 5 AND id > 50")
      assert(tb.collect().map(_.getInt(0)).toSet == (51 to 80).toSet)
      assert(served(tb) == oneGroup && oneGroup < all,
        s"stacked lower bounds must fold to the max: ${served(tb)} " +
          s"vs $oneGroup (all=$all)")
      val ub = s2.sql("SELECT id FROM graft.bl WHERE id < 50 AND id < 5")
      assert(ub.collect().map(_.getInt(0)).toSet == (1 to 4).toSet)
      assert(served(ub) < all,
        "stacked upper bounds must fold to the min")
      // COERCION GUARD: a numeric literal against a STRING column makes
      // Spark cast the COLUMN ("05" matches 5) — pruning on the string
      // "5" would wrongly drop "05". The rule must fall back to the
      // unpruned scan and keep Spark's own semantics.
      val tc = ManagedTable.create(s2, wh, "blc", schema, Seq("id"))
      tc.append(Seq((1, "05", 1L), (2, "7", 2L)).toDF("id", "tag", "v"))
      tc.append(Seq((3, "5", 3L)).toDF("id", "tag", "v"))
      tc.buildBlooms(Seq("tag"))
      val coerced = s2.sql("SELECT id FROM graft.blc WHERE tag = 5")
      assert(coerced.collect().map(_.getInt(0)).toSet == Set(1, 3),
        "numeric-literal-vs-string-column must keep Spark's coercion semantics")
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("min/max/count over the V1 relation answer from the manifest; MoR and filters fall back") {
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val b = SparkSession.builder()
        .master(base.sparkContext.master)
        .withExtensions(new graft.GraftExtensions().apply(_))
      base.conf.getAll.foreach { case (k, v) => b.config(k, v) }
      val s2 = b.getOrCreate()
      import org.apache.spark.sql.functions.{count => fcount, lit, max => fmax, min => fmin}
      import s2.implicits._

      val wh = java.nio.file.Files.createTempDirectory("graft-v1agg-wh").toString
      s2.conf.set("spark.graft.warehouse", wh)
      val t = ManagedTable.create(s2, wh, "ma",
        StructType(Seq(
          StructField("id", LongType, nullable = false),
          StructField("v", StringType))), Seq("id"))
      t.append((1L to 60L).map(i => (i, s"n$i")).toDF("id", "v"))
      t.append((61L to 90L).map(i => (i, s"n$i")).toDF("id", "v"))

      def rel = s2.read.format("graft-table")
        .option("warehouse", wh).option("table", "ma").load()
      // both spellings read the V2 table: a manifest answer is a
      // LocalTableScan with no BatchScan left in the physical plan
      import graft.catalog.GraftScan.{manifestAnswered => localOnly}

      val agg = rel.agg(fmin($"id").as("lo"), fmax($"id").as("hi"),
        fcount(lit(1)).as("n"))
      assert(localOnly(agg), "V1 min/max/count must collapse to the manifest:\n" +
        agg.queryExecution.executedPlan)
      assert(agg.collect().head.toSeq == Seq(1L, 90L, 90L))
      // Dataset.count() plans the same ungrouped count(1) — also scan-free
      assert(rel.count() == 90L)

      // proof of ZERO data reads: remove a group dir — the answer survives
      val grpDir = new java.io.File(
        t.read().inputFiles.head.stripPrefix("file:")).getParentFile
      org.apache.commons.io.FileUtils.deleteDirectory(grpDir)
      assert(rel.agg(fmin($"id"), fmax($"id")).collect().head.toSeq ==
        Seq(1L, 90L))

      // a FILTER above the relation changes the answer's input: no rewrite
      t.overwrite((1L to 90L).map(i => (i, s"n$i")).toDF("id", "v"))
      val filtered = rel.where($"id" > 10L).agg(fmin($"id").as("lo"))
      assert(!localOnly(filtered), "a filtered aggregate must keep the scan")
      assert(filtered.collect().head.getLong(0) == 11L)
      // grouped aggregates keep the scan too
      assert(!localOnly(rel.groupBy($"v").agg(fmin($"id"))))
      // count(col) needs null counts the manifest does not claim: no rewrite
      assert(!localOnly(rel.agg(fcount($"v"))))

      // a tag pinning a PLAIN-data snapshot answers from ITS manifest
      // (round 10) — even after live DML moves on
      ManagedTable.load(s2, wh, "ma").get.tag("clean")

      // MoR state (an upsert group) makes bounds inexact: fall back + stay
      // right (fresh handle: the tag above bumped the metadata generation)
      ManagedTable.load(s2, wh, "ma").get.mergeInto(Seq((5L, "u")).toDF("id", "v"))
      val mor = rel.agg(fmin($"id").as("lo"), fmax($"id").as("hi"))
      assert(!localOnly(mor), "MoR states must fall back to the real scan")
      assert(mor.collect().head.toSeq == Seq(1L, 90L))

      def taggedRel(ref: String) = s2.read.format("graft-table")
        .option("warehouse", wh).option("table", "ma")
        .option("versionAsOf", ref).load()
      val cleanAgg = taggedRel("clean").agg(fmax($"id").as("hi"))
      assert(localOnly(cleanAgg),
        "a plain-data pinned tag must answer from its own manifest:\n" +
          cleanAgg.queryExecution.executedPlan)
      assert(cleanAgg.collect().head.getLong(0) == 90L)
      // the SQL spelling of the same pinned aggregate rewrites too
      val cleanSql = s2.sql(
        "SELECT max(id) AS hi FROM graft.ma VERSION AS OF 'clean'")
      assert(localOnly(cleanSql), "SQL ref aggregate must rewrite:\n" +
        cleanSql.queryExecution.optimizedPlan)
      assert(cleanSql.collect().head.getLong(0) == 90L)
      // a tag pinning the MoR state falls back (hidden rows) + stays right
      ManagedTable.load(s2, wh, "ma").get.tag("pin")
      val tagged = taggedRel("pin").agg(fmax($"id"))
      assert(!localOnly(tagged))
      assert(tagged.collect().head.getLong(0) == 90L)

      // GROUP BY an identity partition source: per-tuple count/min/max
      // from per-entry rows + bounds, incl. a NULL partition value
      val tp = ManagedTable.create(s2, wh, "mag",
        StructType(Seq(
          StructField("id", LongType, nullable = false),
          StructField("day", IntegerType),
          StructField("v", StringType))), Seq("id"),
        partitionBy = Seq("day"))
      val src = (1L to 30L).map(i =>
        (i, if (i % 10 == 0) null else Integer.valueOf((i % 3).toInt), s"n$i"))
        .toDF("id", "day", "v")
      tp.append(src.where($"id" <= 15))
      tp.append(src.where($"id" > 15))
      def relG = s2.read.format("graft-table")
        .option("warehouse", wh).option("table", "mag").load()
      val grouped = relG.groupBy($"day")
        .agg(fcount(lit(1)).as("n"), fmin($"id").as("lo"), fmax($"id").as("hi"))
      assert(localOnly(grouped), "grouped manifest agg must be scan-free:\n" +
        grouped.queryExecution.executedPlan)
      val expect = src.groupBy($"day")
        .agg(fcount(lit(1)).as("n"), fmin($"id").as("lo"), fmax($"id").as("hi"))
        .collect().map(_.toSeq).toSet
      assert(grouped.collect().map(_.toSeq).toSet == expect)
      // bare DISTINCT over the partition source is the same metadata
      val dist = relG.select($"day").distinct()
      assert(localOnly(dist), "DISTINCT partition source must be scan-free:\n" +
        dist.queryExecution.executedPlan)
      assert(dist.collect().map(r => Option(r.get(0))).toSet ==
        src.select($"day").distinct().collect().map(r => Option(r.get(0))).toSet)
      // grouping by a NON-partition column keeps the scan
      assert(!localOnly(relG.groupBy($"v").agg(fcount(lit(1)))))
      // avg is not manifest-answerable: the whole aggregate keeps the scan
      assert(!localOnly(relG.groupBy($"day")
        .agg(org.apache.spark.sql.functions.avg($"id"))))
      // the SQL spelling answers through the V2 scan builder, same answers
      val sqlGrouped = s2.sql(
        "SELECT day, count(*) AS n, min(id) AS lo, max(id) AS hi " +
          "FROM graft.mag GROUP BY day")
      assert(localOnly(sqlGrouped), "SQL grouped manifest agg must be scan-free:\n" +
        sqlGrouped.queryExecution.optimizedPlan)
      assert(sqlGrouped.collect().map(_.toSeq).toSet == expect)
      // a WHERE between relation and aggregate keeps the scan (and the answer)
      val sqlFiltered = s2.sql(
        "SELECT day, count(*) AS n FROM graft.mag WHERE id > 15 GROUP BY day")
      assert(!localOnly(sqlFiltered))
      assert(sqlFiltered.collect().map(_.getLong(1)).sum == 15L)

      // MULTI-column GROUP BY over a two-dimensional identity spec — both
      // spellings, null tuple values included
      val tp2 = ManagedTable.create(s2, wh, "mag2",
        StructType(Seq(
          StructField("id", LongType, nullable = false),
          StructField("day", IntegerType),
          StructField("reg", IntegerType))), Seq("id"),
        partitionBy = Seq("day", "reg"))
      val src2d = (1L to 40L).map(i => (i,
        if (i % 10 == 0) null else Integer.valueOf((i % 2).toInt),
        Integer.valueOf((i % 3).toInt))).toDF("id", "day", "reg")
      tp2.append(src2d.where($"id" <= 20))
      tp2.append(src2d.where($"id" > 20))
      val sql2d = s2.sql(
        "SELECT day, reg, count(*) AS n, max(id) AS hi FROM graft.mag2 " +
          "GROUP BY day, reg")
      assert(localOnly(sql2d), "multi-column grouped agg must be scan-free:\n" +
        sql2d.queryExecution.optimizedPlan)
      val expect2d = src2d.groupBy($"day", $"reg")
        .agg(fcount(lit(1)).as("n"),
          org.apache.spark.sql.functions.max($"id").as("hi"))
        .collect().map(_.toSeq).toSet
      assert(sql2d.collect().map(_.toSeq).toSet == expect2d)
      val v12d = s2.read.format("graft-table")
        .option("warehouse", wh).option("table", "mag2").load()
        .groupBy($"day", $"reg")
        .agg(fcount(lit(1)).as("n"), fmax($"id").as("hi"))
      assert(localOnly(v12d))
      assert(v12d.collect().map(_.toSeq).toSet == expect2d)
      // grouping by only ONE of the two partition dimensions still folds
      val oneOfTwo = s2.sql(
        "SELECT reg, count(*) AS n FROM graft.mag2 GROUP BY reg")
      assert(localOnly(oneOfTwo))
      assert(oneOfTwo.collect().map(_.toSeq).toSet ==
        src2d.groupBy($"reg").agg(fcount(lit(1)).as("n"))
          .collect().map(_.toSeq).toSet)
      // HAVING (and aggregate ORDER BY) need the Aggregate SHAPE for the
      // analyzer to resolve against — the rewrite must not fire, and the
      // query must still analyze and answer correctly
      val having = s2.sql(
        "SELECT day, count(*) AS n FROM graft.mag GROUP BY day HAVING count(*) > 9")
      assert(having.collect().map(_.toSeq).toSet ==
        src.groupBy($"day").agg(fcount(lit(1)).as("n"))
          .where($"n" > 9).collect().map(_.toSeq).toSet)
      val orderByAgg = s2.sql(
        "SELECT day, count(*) AS n FROM graft.mag GROUP BY day ORDER BY count(*) DESC, day")
      assert(orderByAgg.collect().map(_.toSeq).nonEmpty)
      // bare-aggregate HAVING over the ungrouped rewrite too
      val bareHaving = s2.sql(
        "SELECT count(*) AS n FROM graft.ma HAVING count(*) > 0")
      assert(bareHaving.collect().head.getLong(0) == 90L)
      // grouped aggregates over a PINNED tag rewrite from its manifest
      // (round 10): pin, then delete a whole partition live — the tag's
      // grouped answer must keep the pre-delete counts, scan-free
      ManagedTable.load(s2, wh, "mag").get.tag("gclean")
      ManagedTable.load(s2, wh, "mag").get.deleteWhere($"day" === 1)
      val gTag = s2.sql("SELECT day, count(*) AS n FROM graft.mag " +
        "VERSION AS OF 'gclean' GROUP BY day")
      assert(localOnly(gTag), "grouped ref aggregate must rewrite:\n" +
        gTag.queryExecution.optimizedPlan)
      assert(gTag.collect().map(_.toSeq).toSet ==
        src.groupBy($"day").agg(fcount(lit(1)).as("n"))
          .collect().map(_.toSeq).toSet)
      val gLive = s2.sql("SELECT day, count(*) AS n FROM graft.mag GROUP BY day")
      assert(!gLive.collect().exists(r => !r.isNullAt(0) && r.getInt(0) == 1),
        "live grouped answer must reflect the delete")
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}
