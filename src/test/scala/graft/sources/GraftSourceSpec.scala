package graft.sources

import graft.SharedSpark
import graft.tables.ManagedTable
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `format("graft-table")` ([[GraftSource]]): the no-extensions
  * read/write surface — MoR reads, ref reads, filter-driven manifest
  * pruning (superset-scan soundness), and create-on-first-write.
  */
class GraftSourceSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private def wh = java.nio.file.Files.createTempDirectory("graft-src").toString

  test("read: MoR snapshot, column/filter pushdown agree with table.read()") {
    val w = wh
    val df = (1 to 200).map(i => (i.toLong, i % 10, s"n$i")).toDF("id", "grp", "name")
    val t = ManagedTable.create(spark, w, "t1", df.schema, Seq("id"), Seq("grp"))
    t.append(df)
    t.deleteWhere(col("id") > 180L) // MoR tombstones must apply
    val viaSource = spark.read.format("graft-table")
      .option("warehouse", w).option("table", "t1").load()
    assert(viaSource.count() == 180)
    // the declared schema, nullability included (table.read() is all-nullable)
    assert(viaSource.schema == t.meta.schema)
    assert(viaSource.schema.map(f => (f.name, f.dataType)) ==
      t.read().schema.map(f => (f.name, f.dataType)))
    // filter + projection: same rows as the table API
    val got = viaSource.filter(col("grp") === 3).select("id").as[Long].collect().toSet
    val want = t.read().filter(col("grp") === 3).select("id").as[Long].collect().toSet
    assert(got == want && got.nonEmpty)
    // range filter (manifest bounds prune path) still exact
    assert(viaSource.filter(col("id") >= 50L && col("id") <= 60L).count() ==
      t.read().filter(col("id").between(50L, 60L)).count())
    // partition-source single-sided range (tuple pruning path)
    assert(viaSource.filter(col("grp") >= 8).count() ==
      t.read().filter(col("grp") >= 8).count())
    // session-conf warehouse fallback
    spark.conf.set("spark.graft.warehouse", w)
    try assert(spark.read.format("graft-table").option("table", "t1").load().count() == 180)
    finally spark.conf.unset("spark.graft.warehouse")
  }

  test("read: versionAsOf resolves snapshot numbers, tags and branches") {
    val w = wh
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val t = ManagedTable.create(spark, w, "t2", df.schema, Seq("id"))
    t.append(df)
    val v1 = t.meta.currentVersion
    t.tag("pinned")
    t.append(Seq((3L, "c")).toDF("id", "v"))
    t.stageAppend(Seq((9L, "staged")).toDF("id", "v"), "audit")
    def rd(ref: String) = spark.read.format("graft-table")
      .option("warehouse", w).option("table", "t2").option("versionAsOf", ref).load()
    assert(rd(v1.toString).count() == 2)
    assert(rd("pinned").count() == 2)
    assert(rd("audit").count() == 4)
    val e = intercept[Exception] { rd("nope").count() }
    assert(e.getMessage.contains("unknown version ref"), e.getMessage)
  }

  test("write: append, overwrite, create-on-first-write with ids and partitioning") {
    val w = wh
    val df = (1 to 50).map(i => (i.toLong, i % 5, s"n$i")).toDF("id", "grp", "name")
    df.write.format("graft-table").option("warehouse", w).option("table", "t3")
      .option("identifier-fields", "id").option("partition-by", "grp")
      .mode(SaveMode.Append).save()
    val t = ManagedTable.load(spark, w, "t3").get
    assert(t.meta.identifierFields == Seq("id"))
    assert(t.meta.partitionBy == Seq("grp"))
    assert(t.read().count() == 50)
    // append again through the source
    Seq((100L, 1, "x")).toDF("id", "grp", "name").write.format("graft-table")
      .option("warehouse", w).option("table", "t3").mode(SaveMode.Append).save()
    assert(ManagedTable.load(spark, w, "t3").get.read().count() == 51)
    // overwrite replaces the content
    Seq((7L, 2, "only")).toDF("id", "grp", "name").write.format("graft-table")
      .option("warehouse", w).option("table", "t3").mode(SaveMode.Overwrite).save()
    assert(ManagedTable.load(spark, w, "t3").get.read().count() == 1)
    // ErrorIfExists refuses, Ignore no-ops
    val e = intercept[Exception] {
      df.write.format("graft-table").option("warehouse", w).option("table", "t3")
        .mode(SaveMode.ErrorIfExists).save()
    }
    assert(e.getMessage.contains("already exists"), e.getMessage)
    df.write.format("graft-table").option("warehouse", w).option("table", "t3")
      .mode(SaveMode.Ignore).save()
    assert(ManagedTable.load(spark, w, "t3").get.read().count() == 1)
    // user schemas are refused (Spark's own check: the committed schema
    // is authoritative)
    val e2 = intercept[Exception] {
      spark.read.format("graft-table").schema(df.schema)
        .option("warehouse", w).option("table", "t3").load()
    }
    assert(e2.getMessage.contains("does not support user-specified schema"), e2.getMessage)
  }

  test("composite pruning: conjuncts intersect (files), ref reads prune, results exact") {
    val w = wh
    val df = (1 to 400).map(i => (i.toLong, i % 4, s"n$i")).toDF("id", "grp", "name")
    val t = ManagedTable.create(spark, w, "cp", df.schema, Seq("id"), Seq("grp"))
    // id-chunked appends => tight per-group id bounds alongside grp tuples
    (0 until 4).foreach { k =>
      t.append(df.filter(col("id") > k * 100L && col("id") <= (k + 1) * 100L))
    }
    // genuine MoR state: an upsert and a tombstone inside the probed window
    t.updateWhere(col("id") === 155L, Map("name" -> lit("upd")))
    t.deleteWhere(col("id") === 156L)
    import graft.tables.ManagedTable.PruneConjunct
    def files(preds: Seq[PruneConjunct], ref: Option[String] = None): Int =
      t.readPrunedConjunction(preds, ref).inputFiles.length
    val eqGrp = PruneConjunct("grp", Some(2), Some(2))
    val idRange = PruneConjunct("id", Some(101L), Some(200L))
    val full = t.read().inputFiles.length
    val fEq = files(Seq(eqGrp))
    val fRange = files(Seq(idRange))
    val fBoth = files(Seq(eqGrp, idRange))
    assert(fEq < full && fRange < full, s"single-conjunct pruning lost: $fEq/$fRange vs $full")
    assert(fBoth < fEq && fBoth < fRange,
      s"conjunction must intersect candidate sets: both=$fBoth eq=$fEq range=$fRange")
    // a tag read prunes like a live read (same stats ride the pinned manifest)
    t.tag("pin")
    t.append(Seq((999L, 1, "late")).toDF("id", "grp", "name")) // after the tag
    val fTag = files(Seq(eqGrp, idRange), Some("pin"))
    assert(fTag < full, s"tag read must prune: $fTag vs $full")
    // randomized differential: pruned-conjunction scan + exact filter ==
    // full scan + exact filter, across eq/range mixes on the MoR state
    val rnd = new scala.util.Random(41)
    def want(cond: org.apache.spark.sql.Column): Set[Long] =
      t.read().filter(cond).select("id").as[Long].collect().toSet
    (1 to 15).foreach { i =>
      val lo = 1L + rnd.nextInt(400)
      val hi = lo + rnd.nextInt(120)
      val g = rnd.nextInt(4)
      val preds = Seq(PruneConjunct("id", Some(lo), Some(hi))) ++
        (if (rnd.nextBoolean()) Seq(PruneConjunct("grp", Some(g), Some(g))) else Nil) ++
        (if (rnd.nextBoolean()) Seq(PruneConjunct("name", Some("n"), None)) else Nil)
      val cond = preds.map {
        case PruneConjunct(c, Some(l), Some(h), _) if l == h => col(c) === lit(l)
        case PruneConjunct(c, l, h, _) =>
          Seq(l.map(v => col(c) >= lit(v)), h.map(v => col(c) <= lit(v)))
            .flatten.reduce(_ && _)
      }.reduce(_ && _)
      val got = t.readPrunedConjunction(preds).filter(cond)
        .select("id").as[Long].collect().toSet
      assert(got == want(cond), s"round $i: preds=$preds")
    }
    // IN lists prune (round 9): any-value probing, intersected like any
    // other conjunct; the empty list prunes everything, soundly
    val inGrp = PruneConjunct("grp", None, None, Some(Seq(1, 3)))
    assert(files(Seq(inGrp)) < full, "IN must tuple-prune")
    assert(files(Seq(inGrp, idRange)) < files(Seq(inGrp)),
      "IN intersects with ranges")
    assert(files(Seq(PruneConjunct("id", None, None, Some(Seq.empty)))) == 0,
      "empty IN matches nothing")
    val inCond = col("grp").isin(1, 3) && col("id").between(101L, 200L)
    assert(t.readPrunedConjunction(Seq(inGrp, idRange)).filter(inCond)
      .select("id").as[Long].collect().toSet == want(inCond))
    // …and through the V1 seam: conjunction + projection + count(*) exact
    def src = spark.read.format("graft-table")
      .option("warehouse", w).option("table", "cp").load()
    val c = col("grp") === 2 && col("id").between(101L, 200L)
    assert(src.filter(c).select("id").as[Long].collect().toSet == want(c))
    assert(src.filter(c).count() == want(c).size)
    assert(src.filter(col("grp").isin(1, 3) && col("id") <= 50L)
      .select("id").as[Long].collect().toSet ==
      want(col("grp").isin(1, 3) && col("id") <= 50L))
    assert(src.count() == t.read().count()) // zero-column scan (count(*))
    val viaTag = spark.read.format("graft-table")
      .option("warehouse", w).option("table", "cp")
      .option("versionAsOf", "pin").load()
    assert(viaTag.filter(c).select("id").as[Long].collect().toSet == want(c),
      "the late append is invisible at the tag, pruned or not")
    assert(!viaTag.filter(col("id") === 999L).collect().exists(_ => true))
  }

  test("batch changelog reads: changesFrom/changesTo through the V1 seam") {
    val w = wh
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val t = ManagedTable.create(spark, w, "chb", df.schema, Seq("id"),
      properties = Map("write.versions-retained" -> "10"))
    t.append(df)                                            // v1
    t.updateWhere(col("id") === 1L, Map("v" -> lit("a2")))  // v2
    t.deleteWhere(col("id") === 2L)                         // v3
    def rd(opts: (String, String)*): org.apache.spark.sql.DataFrame = {
      val r = spark.read.format("graft-table")
        .option("warehouse", w).option("table", "chb")
      opts.foldLeft(r) { case (b, (k, v)) => b.option(k, v) }.load()
    }
    // incremental range (1, 3]: the update's net row + the tombstone
    val inc = rd("changesFrom" -> "1").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(3))).toSet
    assert(inc == Set((1L, "a2", false), (2L, "b", true)), inc.toString)
    // bounded range (1, 2]: only the update
    assert(rd("changesFrom" -> "1", "changesTo" -> "2")
      .select("id").collect().map(_.getLong(0)).toSet == Set(1L))
    // full seed (0, current]: net snapshot shape, carries the verdicts
    assert(rd("changesFrom" -> "0").count() >= 2)
    // a barrier inside an incremental range refuses precisely
    t.overwrite(Seq((9L, "z")).toDF("id", "v"))
    val e = intercept[Exception] { rd("changesFrom" -> "2").count() }
    assert(e.getMessage.contains("changelog barrier"), e.getMessage)
    // …while the full re-read works
    assert(rd("changesFrom" -> "0").select("id").collect()
      .map(_.getLong(0)).toSet == Set(9L))
    val e2 = intercept[Exception] {
      rd("changesFrom" -> "1", "versionAsOf" -> "2").count()
    }
    assert(e2.getMessage.contains("cannot combine"), e2.getMessage)
  }

  test("count(*) through the V1 seam is manifest-answered on pure-append tables") {
    val w = wh
    val df = (1 to 120).map(i => (i.toLong, s"n$i")).toDF("id", "v")
    val t = ManagedTable.create(spark, w, "fc", df.schema, Seq("id"))
    t.append(df)
    t.append(Seq((121L, "x")).toDF("id", "v"))
    def src = spark.read.format("graft-table")
      .option("warehouse", w).option("table", "fc").load()
    assert(src.count() == 121)
    // proof of zero data reads: delete a whole GROUP DIR from disk — the
    // manifest answer survives, a column scan cannot even plan
    val grpDir = new java.io.File(
      t.read().inputFiles.head.stripPrefix("file:")).getParentFile
    org.apache.commons.io.FileUtils.deleteDirectory(grpDir)
    assert(src.count() == 121, "count(*) must be answered from the manifest")
    intercept[Exception] { src.select("id").collect() }
    // restore-by-rewrite, then an upsert makes fastRowCount inexact: the
    // count falls back to the real scan and stays right
    t.overwrite(df) // fresh single group, file intact
    t.mergeInto(Seq((5L, "u")).toDF("id", "v"))
    assert(spark.read.format("graft-table")
      .option("warehouse", w).option("table", "fc").load().count() == 120,
      "MoR states must fall back to the exact scan")

    // a PINNED ref over a plain-data snapshot answers from ITS manifest
    // too (round 10) — through the bare no-extensions seam
    ManagedTable.load(spark, w, "fc").get.compact() // fold the MoR state
    ManagedTable.load(spark, w, "fc").get.tag("pin")
    ManagedTable.load(spark, w, "fc").get.deleteWhere(col("id") <= 100L)
    def pinned = spark.read.format("graft-table")
      .option("warehouse", w).option("table", "fc")
      .option("versionAsOf", "pin").load()
    // 120 ≠ the live count below proves the PINNED manifest answered;
    // the dir-deletion proof is live-only (a ref relation's schema comes
    // from the planned snapshot, which must still resolve its paths)
    assert(pinned.count() == 120, "pinned-ref count must see the pre-delete state")
    assert(spark.read.format("graft-table")
      .option("warehouse", w).option("table", "fc").load().count() == 20)
  }

  test("changelog streaming source: version offsets, restart resume, barrier refusal") {
    val w = wh
    val out = java.nio.file.Files.createTempDirectory("graft-chg-out").toString
    val ck = java.nio.file.Files.createTempDirectory("graft-chg-ck").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val t = ManagedTable.create(spark, w, "chg", df.schema, Seq("id"))
    t.append(df)
    t.updateWhere(col("id") === 1L, Map("v" -> lit("a2")))
    def runOnce(): Unit = assert(spark.readStream.format("graft-table")
      .option("warehouse", w).option("table", "chg").load()
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination(120000), "drain timed out")
    runOnce()
    val got1 = spark.read.parquet(out)
    assert(got1.columns.contains(ManagedTable.SeqCol) &&
      got1.columns.contains(ManagedTable.TombstoneCol))
    // seed batch = the net current state (2 live keys; the update's net row)
    assert(got1.count() >= 2)
    assert(got1.filter(col("id") === 1L && col("v") === "a2").count() >= 1)
    // restart from the checkpoint: only the NEW commits arrive
    val before = got1.count()
    ManagedTable.load(spark, w, "chg").get.deleteWhere(col("id") === 2L)
    runOnce()
    val got2 = spark.read.parquet(out)
    assert(got2.count() > before)
    assert(got2.filter(col("id") === 2L &&
      col(ManagedTable.TombstoneCol)).count() >= 1,
      "the hard delete must arrive as a tombstone change row")
    // a barrier inside the next range fails precisely
    ManagedTable.load(spark, w, "chg").get.overwrite(Seq((9L, "z")).toDF("id", "v"))
    val e = intercept[Exception] { runOnce() }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("changelog barrier")), msgs(e).mkString(" | "))
  }

  test("changelog source retention fallback: incremental ranges recover, expired seed fails") {
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val w = wh
    val df = Seq((1L, "a")).toDF("id", "v")
    val t = ManagedTable.create(spark, w, "rf", df.schema, Seq("id")) // retention default: 1
    t.append(df)                                   // v1
    t.append(Seq((2L, "b")).toDF("id", "v"))       // v2
    t.append(Seq((3L, "c")).toDF("id", "v"))       // v3
    t.append(Seq((4L, "d")).toDF("id", "v"))       // v4 — v2's manifest expires
    assert(!t.manifestRetained(2L) && t.manifestRetained(4L))
    val schema = org.apache.spark.sql.types.StructType(df.schema.fields ++ Seq(
      org.apache.spark.sql.types.StructField(ManagedTable.SeqCol,
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField(ManagedTable.TombstoneCol,
        org.apache.spark.sql.types.BooleanType, nullable = false)))
    val src = new GraftStreamSource(spark, w, "rf", schema)
    // fallback CONTENT: the current-manifest view of an expired range is
    // exactly the range's rows on this append-only history
    assert(t.readChangesBetweenCurrent(1L, 2L)
      .select("id").collect().map(_.getLong(0)).toSet == Set(2L))
    assert(t.readChangesBetweenCurrent(0L, 2L)
      .select("id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // and readChangesBetween itself still refuses the expired manifest
    intercept[IllegalArgumentException] { t.readChangesBetween(1L, 2L) }
    // the SOURCE takes the fallback for both incremental and seed
    // re-requests without throwing (content execution rides the engine —
    // the mirror differential's restarts cover it e2e)
    val inc = src.getBatch(Some(LongOffset(1L)), LongOffset(2L))
    val seed = src.getBatch(None, LongOffset(2L))
    assert(inc.isStreaming && seed.isStreaming)
    def shape(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => (f.name, f.dataType)).toSeq
    assert(shape(inc.schema) == shape(schema) && shape(seed.schema) == shape(schema))
  }

  test("changelog source: startingVersion=latest attaches at current and pins across restarts") {
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val w = wh
    val md = java.nio.file.Files.createTempDirectory("graft-attach-md").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val t = ManagedTable.create(spark, w, "att", df.schema, Seq("id"))
    t.append(df)                              // v1
    t.append(Seq((3L, "c")).toDF("id", "v"))  // v2
    val schema = org.apache.spark.sql.types.StructType(df.schema.fields ++ Seq(
      org.apache.spark.sql.types.StructField(ManagedTable.SeqCol,
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField(ManagedTable.TombstoneCol,
        org.apache.spark.sql.types.BooleanType, nullable = false)))
    val src = new GraftStreamSource(spark, w, "att", schema,
      startingVersion = Some("latest"), metadataPath = md)
    // nothing new since attach: no offset, no seed replay of the table
    assert(src.getOffset.isEmpty, "attach-at-latest must not replay the snapshot")
    t.append(Seq((4L, "d")).toDF("id", "v"))  // v3 — after attach
    assert(src.getOffset.contains(LongOffset(3L)))
    def rows(df: org.apache.spark.sql.DataFrame): Set[Long] =
      org.apache.spark.sql.graftbridge.GraftBridge.unwrapStreaming(df)
        .select("id").collect().map(_.getLong(0)).toSet
    // the seed range is (attachVersion, 3] = only the new commit
    assert(rows(src.getBatch(None, LongOffset(3L))) == Set(4L))
    // a RESTART (new source instance, same metadata dir) keeps the pin:
    // commits between stop and restart are NOT skipped
    t.append(Seq((5L, "e")).toDF("id", "v"))  // v4
    val src2 = new GraftStreamSource(spark, w, "att", schema,
      startingVersion = Some("latest"), metadataPath = md)
    assert(rows(src2.getBatch(None, LongOffset(4L))) == Set(4L, 5L),
      "the attach pin must survive a restart (recomputing 'latest' would skip v3)")
    // numeric startingVersion: inclusive of that version's commit
    val srcN = new GraftStreamSource(spark, w, "att", schema,
      startingVersion = Some("3"), metadataPath = md)
    assert(rows(srcN.getBatch(None, LongOffset(4L))) == Set(4L, 5L))
    // invalid values refuse at stream definition
    val e = intercept[Exception] {
      spark.readStream.format("graft-table").option("warehouse", w)
        .option("table", "att").option("startingVersion", "0").load()
        .writeStream.format("noop")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ck-sv").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination(120000)
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("startingVersion")), msgs(e).mkString(" | "))
  }

  test("changelog source: startingTimestamp attaches at the first commit at/after the instant") {
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val w = wh
    val md = java.nio.file.Files.createTempDirectory("graft-ts-md").toString
    val df = Seq((1L, "a")).toDF("id", "v")
    val t = ManagedTable.create(spark, w, "tsa", df.schema, Seq("id"),
      properties = Map("write.versions-retained" -> "10"))
    t.append(df)                               // v1
    Thread.sleep(30)
    val cut = System.currentTimeMillis()
    Thread.sleep(30)
    t.append(Seq((2L, "b")).toDF("id", "v"))   // v2 — after the cut
    t.append(Seq((3L, "c")).toDF("id", "v"))   // v3
    val schema = org.apache.spark.sql.types.StructType(df.schema.fields ++ Seq(
      org.apache.spark.sql.types.StructField(ManagedTable.SeqCol,
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField(ManagedTable.TombstoneCol,
        org.apache.spark.sql.types.BooleanType, nullable = false)))
    def rows(df: org.apache.spark.sql.DataFrame): Set[Long] =
      org.apache.spark.sql.graftbridge.GraftBridge.unwrapStreaming(df)
        .select("id").collect().map(_.getLong(0)).toSet
    val src = new GraftStreamSource(spark, w, "tsa", schema,
      metadataPath = md, startingTimestamp = Some(cut.toString))
    assert(rows(src.getBatch(None, LongOffset(3L))) == Set(2L, 3L),
      "only commits at/after the instant")
    // the pin survives restarts (same metadata dir)
    val src2 = new GraftStreamSource(spark, w, "tsa", schema,
      metadataPath = md, startingTimestamp = Some(cut.toString))
    assert(rows(src2.getBatch(None, LongOffset(3L))) == Set(2L, 3L))
    // a timestamp before all retained history seeds the full snapshot
    val srcOld = new GraftStreamSource(spark, w, "tsa", schema,
      metadataPath = java.nio.file.Files.createTempDirectory("graft-ts-md2").toString,
      startingTimestamp = Some("1000"))
    assert(rows(srcOld.getBatch(None, LongOffset(3L))) == Set(1L, 2L, 3L))
    // both options together refuse at stream definition
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    val e = intercept[Exception] {
      spark.readStream.format("graft-table").option("warehouse", w)
        .option("table", "tsa").option("startingVersion", "latest")
        .option("startingTimestamp", cut.toString).load()
        .writeStream.format("noop")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ck-ts").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination(120000)
    }
    assert(msgs(e).exists(_.contains("not both")), msgs(e).mkString(" | "))
  }

  test("changelog source: maxVersionsPerTrigger splits a commit burst across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val w = wh
    val df = Seq((1L, "a")).toDF("id", "v")
    val t = ManagedTable.create(spark, w, "burst", df.schema, Seq("id"))
    (1 to 5).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("id", "v"))) // v1..v5
    val schema = org.apache.spark.sql.types.StructType(df.schema.fields ++ Seq(
      org.apache.spark.sql.types.StructField(ManagedTable.SeqCol,
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField(ManagedTable.TombstoneCol,
        org.apache.spark.sql.types.BooleanType, nullable = false)))
    // unit-level: the offset walk is capped at 2 versions per poll
    val src = new GraftStreamSource(spark, w, "burst", schema,
      maxVersionsPerTrigger = Some(2L))
    assert(src.getOffset.contains(LongOffset(2L)))
    src.getBatch(None, LongOffset(2L))
    assert(src.getOffset.contains(LongOffset(4L)))
    src.getBatch(Some(LongOffset(2L)), LongOffset(4L))
    assert(src.getOffset.contains(LongOffset(5L)))
    src.getBatch(Some(LongOffset(4L)), LongOffset(5L))
    assert(src.getOffset.isEmpty, "caught up: no new offset")
    // e2e under Trigger.AvailableNow — the drain pattern real followers
    // use: SupportsTriggerAvailableNow makes the engine keep polling
    // capped offsets to the run-start pin instead of latching ONE capped
    // getOffset (which would silently stop after 2 of 5 versions)
    val out = java.nio.file.Files.createTempDirectory("graft-burst-out").toString
    val ck = java.nio.file.Files.createTempDirectory("graft-burst-ck").toString
    spark.readStream.format("graft-table")
      .option("warehouse", w).option("table", "burst")
      .option("maxVersionsPerTrigger", "2").load()
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination(120000)
    assert(spark.read.parquet(out).select("id").collect()
      .map(_.getLong(0)).toSet == (1L to 5L).toSet)
    val batches = new java.io.File(s"$ck/offsets").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(batches >= 3, s"a 5-commit burst at cap 2 needs >= 3 batches, got $batches")
  }

  test("changelog source: a mid-stream schema WIDEN fails loudly; restart resumes with the new column, no rows lost") {
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    val w = wh
    val ck = java.nio.file.Files.createTempDirectory("graft-widen-ck").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val t = ManagedTable.create(spark, w, "widen", df.schema, Seq("id"),
      properties = Map("write.versions-retained" -> "10"))
    t.append(df) // v1
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Option[Long])]()
    def drain(): Unit = assert(spark.readStream.format("graft-table")
      .option("warehouse", w).option("table", "widen").load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach { r =>
          val extra = if (b.columns.contains("extra") && !r.isNullAt(r.fieldIndex("extra")))
            Some(r.getLong(r.fieldIndex("extra"))) else None
          seen.add((r.getLong(r.fieldIndex("id")), extra))
        }
        ()
      }
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination(120000), "drain timed out")
    // a LONG-LIVED follower (one query across the evolve — the shape the
    // widen check protects; a fresh AvailableNow drain would re-attach
    // with the new schema and never see the hazard)
    val q = spark.readStream.format("graft-table")
      .option("warehouse", w).option("table", "widen").load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach { r =>
          val extra = if (b.columns.contains("extra") && !r.isNullAt(r.fieldIndex("extra")))
            Some(r.getLong(r.fieldIndex("extra"))) else None
          seen.add((r.getLong(r.fieldIndex("id")), extra))
        }
        ()
      }
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(50L))
      .start()
    val deadline = System.currentTimeMillis() + 60000
    while (seen.size() < 2 && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(seen.size() == 2, "seed batch must land before the evolve")
    // the table widens upstream (the reference's ROUTINE evolution event)
    t.evolve(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("extra", org.apache.spark.sql.types.LongType))))
    ManagedTable.load(spark, w, "widen").get
      .append(Seq((3L, "c", 7L)).toDF("id", "v", "extra")) // v2 carries the new column
    // the RUNNING follower's schema predates the widen: serving the batch
    // would silently drop `extra` — it must fail with the restart guidance
    val e = intercept[Exception] { q.awaitTermination(120000) }
    assert(msgs(e).exists(m => m.contains("schema evolved") && m.contains("extra")),
      msgs(e).mkString(" | "))
    // restart from the SAME checkpoint: the re-attached stream carries the
    // widened schema and replays the refused range — nothing lost
    drain()
    import scala.jdk.CollectionConverters._
    val all = seen.asScala.toSeq
    assert(all.exists(r => r._1 == 3L && r._2.contains(7L)),
      s"the new column's data must arrive after the restart: $all")
    // a DROPPED column keeps failing loudly for a RUNNING follower whose
    // attach schema still carries it (the projection throws)
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val t2 = ManagedTable.load(spark, w, "widen").get
    val preDrop = org.apache.spark.sql.types.StructType(t2.meta.schema.fields ++ Seq(
      org.apache.spark.sql.types.StructField(ManagedTable.SeqCol,
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField(ManagedTable.TombstoneCol,
        org.apache.spark.sql.types.BooleanType, nullable = false)))
    t2.dropColumn("extra")
    t2.append(Seq((5L, "e")).toDF("id", "v"))
    val running = new GraftStreamSource(spark, w, "widen", preDrop)
    val e2 = intercept[Exception] {
      running.getBatch(None, LongOffset(t2.meta.currentVersion))
    }
    assert(msgs(e2).nonEmpty, "a dropped column must not serve silently")
  }

  test("spark.wap.branch adjudicated on the V1 seam: reads see the branch, writes stage, overwrite/sink refuse") {
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    val w = wh
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val t = ManagedTable.create(spark, w, "wapv1", df.schema, Seq("id"))
    t.append(df)
    def src = spark.read.format("graft-table")
      .option("warehouse", w).option("table", "wapv1").load()
    spark.conf.set("spark.wap.branch", "audit")
    try {
      // absent branch: plain reads fall back to live (one conf audits
      // only the tables actually staged on — same rule as SQL)
      assert(src.count() == 2)
      // a V1 append under the conf STAGES (created on first touch): the
      // live table must stay untouched mid-audit
      Seq((3L, "c")).toDF("id", "v").write.format("graft-table")
        .option("warehouse", w).option("table", "wapv1")
        .mode(SaveMode.Append).save()
      val after = ManagedTable.load(spark, w, "wapv1").get
      assert(after.branches().contains("audit"), "the write must stage, not commit")
      assert(after.read().count() == 2, "live table untouched mid-audit")
      // now the branch exists on this table: plain V1 reads see the
      // staged view — the same answer as the branch read / SQL
      assert(src.count() == 3, "V1 read must see the staged view (incl. fastRowCount bypass)")
      assert(src.filter(col("id") === 3L).count() == 1,
        "filtered reads route through the branch view too (pruning steps aside)")
      assert(src.select("id").as[Long].collect().toSet ==
        after.readBranch("audit").select("id").as[Long].collect().toSet)
      // explicit versionAsOf still wins over the conf
      assert(spark.read.format("graft-table").option("warehouse", w)
        .option("table", "wapv1").option("versionAsOf", "audit").load().count() == 3)
      // overwrite mid-audit is refused, like SQL INSERT OVERWRITE
      val eo = intercept[Exception] {
        Seq((9L, "z")).toDF("id", "v").write.format("graft-table")
          .option("warehouse", w).option("table", "wapv1")
          .mode(SaveMode.Overwrite).save()
      }
      assert(msgs(eo).exists(_.contains("WAP branch")), msgs(eo).mkString(" | "))
      // the streaming SINK refuses under an active branch (its
      // exactly-once marker rides live commits)
      val in = java.nio.file.Files.createTempDirectory("graft-wap-in").toString
      Seq((7L, "g")).toDF("id", "v").repartition(1).write.json(s"$in/b1")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
      val es = intercept[Exception] {
        spark.readStream.schema(schema).json(s"$in/*")
          .writeStream.format("graft-table")
          .option("warehouse", w).option("table", "wapv1")
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("ck-wap").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start().awaitTermination(120000)
      }
      assert(msgs(es).exists(_.contains("spark.wap.branch")), msgs(es).mkString(" | "))
      // the changelog source keeps serving the LIVE changelog (staged
      // state joins it at publish) — documented adjudication
      val out = java.nio.file.Files.createTempDirectory("graft-wap-out").toString
      spark.readStream.format("graft-table")
        .option("warehouse", w).option("table", "wapv1").load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ck-wap2").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination(120000)
      assert(spark.read.parquet(out).select("id").as[Long].collect().toSet == Set(1L, 2L),
        "the changelog is LIVE state — staged rows are pre-commit by design")
    } finally spark.conf.unset("spark.wap.branch")
    // conf off again: live view, then publish folds the stage in
    assert(src.count() == 2)
    val t2 = ManagedTable.load(spark, w, "wapv1").get
    t2.publishBranch("audit")
    assert(src.count() == 3)
  }

  test("changelog source: maxRowsPerTrigger budgets admission by manifest row counts, never splitting a version") {
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val w = wh
    val df = Seq((0L, "z")).toDF("id", "v")
    val t = ManagedTable.create(spark, w, "rowb", df.schema, Seq("id"))
    def batch(n: Int, from: Int): org.apache.spark.sql.DataFrame =
      (from until from + n).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    t.append(batch(5, 100))   // v1: 5 rows
    t.append(batch(5, 200))   // v2: 5 rows
    t.append(batch(50, 300))  // v3: 50 rows — one FAT commit
    t.append(batch(5, 400))   // v4: 5 rows
    t.append(batch(5, 500))   // v5: 5 rows
    val schema = org.apache.spark.sql.types.StructType(df.schema.fields ++ Seq(
      org.apache.spark.sql.types.StructField(ManagedTable.SeqCol,
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField(ManagedTable.TombstoneCol,
        org.apache.spark.sql.types.BooleanType, nullable = false)))
    val src = new GraftStreamSource(spark, w, "rowb", schema,
      maxRowsPerTrigger = Some(10L))
    // v1+v2 fit the 10-row budget exactly; v3 would blow it — split there
    assert(src.getOffset.contains(LongOffset(2L)))
    src.getBatch(None, LongOffset(2L))
    // the single over-budget commit lands ALONE (a version never splits)
    assert(src.getOffset.contains(LongOffset(3L)))
    src.getBatch(Some(LongOffset(2L)), LongOffset(3L))
    assert(src.getOffset.contains(LongOffset(5L)))
    src.getBatch(Some(LongOffset(3L)), LongOffset(5L))
    assert(src.getOffset.isEmpty)
    // e2e: an AvailableNow drain covers everything in budgeted batches
    val out = java.nio.file.Files.createTempDirectory("graft-rowb-out").toString
    val ck = java.nio.file.Files.createTempDirectory("graft-rowb-ck").toString
    spark.readStream.format("graft-table")
      .option("warehouse", w).option("table", "rowb")
      .option("maxRowsPerTrigger", "10").load()
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination(120000)
    assert(spark.read.parquet(out).count() == 70)
    val batches = new java.io.File(s"$ck/offsets").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(batches >= 3, s"the fat commit must land alone: got $batches batches")
  }

  test("changelog source: expired or behind-barrier startingVersion fails at ATTACH with reseed guidance") {
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    val w = wh
    val df = Seq((1L, "a")).toDF("id", "v")
    val t = ManagedTable.create(spark, w, "attv", df.schema, Seq("id")) // retention 1
    (1 to 5).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("id", "v"))) // v1..v5
    def start(sv: String, md: String = java.nio.file.Files
        .createTempDirectory("graft-attv-ck").toString): Unit =
      spark.readStream.format("graft-table")
        .option("warehouse", w).option("table", "attv")
        .option("startingVersion", sv).load()
        .writeStream.format("noop").option("checkpointLocation", md)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination(120000)
    // v2 aged out (default retention keeps the last window only)
    val e1 = intercept[Exception] { start("2") }
    assert(msgs(e1).exists(_.contains("predates retained history")), msgs(e1).mkString(" | "))
    // a retained attach point works, and its validation is pinned: once
    // attached, later retention slides must not re-fail the restart
    val ckOk = java.nio.file.Files.createTempDirectory("graft-attv-ok").toString
    start("5", ckOk)
    (6 to 9).foreach(i => ManagedTable.load(spark, w, "attv").get
      .append(Seq((i.toLong, s"v$i")).toDF("id", "v"))) // v5 ages out
    start("5", ckOk) // restart on the same checkpoint lineage: no re-validation
    // behind a barrier: an overwrite stamps it; attaching before it refuses
    val t2 = ManagedTable.load(spark, w, "attv").get
    t2.overwrite(Seq((99L, "z")).toDF("id", "v")) // v10, barrier at 10
    t2.append(Seq((100L, "y")).toDF("id", "v"))   // v11
    val e2 = intercept[Exception] { start("10") }
    assert(msgs(e2).exists(_.contains("changelog barrier")), msgs(e2).mkString(" | "))
    // attaching AT/after the barrier is fine
    start("11")
  }

  test("randomized mirror differential: source→sink streamed replication ≡ upstream") {
    val rnd = new scala.util.Random(97)
    val w = wh
    val ck = java.nio.file.Files.createTempDirectory("graft-mirror-ck").toString
    val df0 = Seq((0L, "seed", 0L)).toDF("id", "v", "n")
    val up = ManagedTable.create(spark, w, "mup", df0.schema, Seq("id"))
    up.append(df0)
    var nextId = 1L
    def randomOps(): Unit = (1 to 1 + rnd.nextInt(3)).foreach { _ =>
      val t = ManagedTable.load(spark, w, "mup").get
      rnd.nextInt(3) match {
        case 0 =>
          val rows = (0 until 1 + rnd.nextInt(4)).map { _ =>
            nextId += 1; (nextId, s"v$nextId", rnd.nextInt(100).toLong)
          }
          t.append(rows.toDF("id", "v", "n"))
        case 1 =>
          t.updateWhere(col("id") % 3 === rnd.nextInt(3) && col("id") <= nextId,
            Map("v" -> concat(lit("u"), col("id")), "n" -> (col("n") + 1L)))
        case 2 =>
          t.deleteWhere(col("id") === (rnd.nextInt(nextId.toInt + 1).toLong))
      }
    }
    def drain(): Unit = spark.readStream.format("graft-table")
      .option("warehouse", w).option("table", "mup").load()
      // reserved meta names cannot be table columns downstream — rename
      .select(col("id"), col("v"), col("n"),
        col(ManagedTable.SeqCol).as("src_seq"),
        col(ManagedTable.TombstoneCol).as("src_del"))
      .writeStream.format("graft-table")
      .option("warehouse", w).option("table", "mmirror")
      .option("identifier-fields", "id").option("mode", "upsert")
      .option("tombstone-column", "src_del")
      .option("dedup-column", "src_seq")
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination(120000)
    def state(name: String): Set[(Long, String, Long)] =
      ManagedTable.load(spark, w, name).get.read()
        .select("id", "v", "n").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    (1 to 6).foreach { round =>
      randomOps()
      drain()
      // the mirror carries the change-meta columns as data; compare the
      // logical columns
      assert(state("mmirror") == state("mup"), s"mirror diverged at round $round")
    }
  }

  test("streaming sink: writeStream.format(graft) appends exactly-once; upsert mode nets per key") {
    val w = wh
    val in = java.nio.file.Files.createTempDirectory("graft-sink-in").toString
    val ck = java.nio.file.Files.createTempDirectory("graft-sink-ck").toString
    def drop(name: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("id", "v").repartition(1).write.mode("overwrite")
        .json(s"$in/$name")
    drop("b1", Seq((1L, "a"), (2L, "b")))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    def runOnce(): Unit = spark.readStream.schema(schema).json(s"$in/*")
      .writeStream.format("graft-table")
      .option("warehouse", w).option("table", "sunk")
      .option("identifier-fields", "id").option("mode", "upsert")
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination(120000)
    runOnce()
    val t = ManagedTable.load(spark, w, "sunk").get
    assert(t.meta.identifierFields == Seq("id"))
    assert(t.read().count() == 2)
    // upsert: second batch replaces key 1, adds key 3
    drop("b2", Seq((1L, "a2"), (3L, "c")))
    runOnce()
    val got = ManagedTable.load(spark, w, "sunk").get.read()
      .select("id", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a2"), (2L, "b"), (3L, "c")), got.toString)
    // a clean re-run on the SAME checkpoint finds nothing new: no-op
    runOnce()
    assert(ManagedTable.load(spark, w, "sunk").get.read().count() == 3)
    // a WIPED checkpoint restarts batch ids below the marker — silently
    // skipping would drop any NEW files mixed into the restarted batch,
    // so the sink fails precisely instead
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ck))
    val e3 = intercept[Exception] { runOnce() }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e3).exists(_.contains("wiped or relocated")), msgs(e3).mkString(" | "))
    // duplicate keys within ONE batch net to a single row (dedup-column
    // makes it deterministic last-wins)
    val w2 = wh
    val in2 = java.nio.file.Files.createTempDirectory("graft-sink-in2").toString
    val ck2 = java.nio.file.Files.createTempDirectory("graft-sink-ck2").toString
    Seq((1L, "old", 1L), (1L, "new", 2L), (2L, "b", 1L)).toDF("id", "v", "ts")
      .repartition(1).write.json(s"$in2/b1")
    val schema2 = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType)))
    spark.readStream.schema(schema2).json(s"$in2/*")
      .writeStream.format("graft-table")
      .option("warehouse", w2).option("table", "sunk2")
      .option("identifier-fields", "id").option("mode", "upsert")
      .option("dedup-column", "ts")
      .option("checkpointLocation", ck2)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination(120000)
    val s2 = ManagedTable.load(spark, w2, "sunk2").get.read()
      .select("id", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(s2 == Set((1L, "new"), (2L, "b")), s2.toString)
    // upsert without ids anywhere is refused BEFORE any table is created
    val e4 = intercept[Exception] {
      spark.readStream.schema(schema2).json(s"$in2/*")
        .writeStream.format("graft-table")
        .option("warehouse", w2).option("table", "sunk3").option("mode", "upsert")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ck3").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination(120000)
    }
    assert(msgs(e4).exists(_.contains("identifier-fields")), msgs(e4).mkString(" | "))
    assert(ManagedTable.load(spark, w2, "sunk3").isEmpty,
      "a refused upsert stream must not leave a keyless table behind")
  }

  test("sink guards: update-mode, marker scope, tombstone netting refuse precisely") {
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    val w = wh
    val in = java.nio.file.Files.createTempDirectory("graft-guard-in").toString
    Seq((1L, "a")).toDF("id", "v").repartition(1).write.json(s"$in/b1")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    def stream = spark.readStream.schema(schema).json(s"$in/*")
    // Update output mode + append sink mode would accumulate one stale row
    // per re-emission — refused up front (mirrors the Complete refusal)
    val eU = intercept[Exception] {
      stream.groupBy("id").count().withColumnRenamed("count", "n")
        .writeStream.format("graft-table").outputMode("update")
        .option("warehouse", w).option("table", "gU")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ckU").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination(120000)
    }
    assert(msgs(eU).exists(_.contains("Update output mode")), msgs(eU).mkString(" | "))
    // ...and the exact same query in Update + upsert mode is accepted and
    // converges to the latest count per key across re-emissions
    val ckOk = java.nio.file.Files.createTempDirectory("ckOk").toString
    def runUpd(): Unit = stream.groupBy("id").count().withColumnRenamed("count", "n")
      .writeStream.format("graft-table").outputMode("update")
      .option("warehouse", w).option("table", "gU")
      .option("identifier-fields", "id").option("mode", "upsert")
      .option("checkpointLocation", ckOk)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination(120000)
    runUpd()
    Seq((1L, "a2"), (2L, "b")).toDF("id", "v").repartition(1).write.json(s"$in/b2")
    runUpd()
    val gotU = ManagedTable.load(spark, w, "gU").get.read()
      .select("id", "n").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotU == Set((1L, 2L), (2L, 1L)),
      s"update-mode re-emission must net to the latest count per key: $gotU")
    // no checkpointLocation OPTION and no sink-id: the marker scope would
    // be shared across streams — refused even when a session-default
    // checkpoint dir exists (Spark never passes the default to the sink)
    spark.conf.set("spark.sql.streaming.checkpointLocation",
      java.nio.file.Files.createTempDirectory("ck-default").toString)
    val eM = try intercept[Exception] {
      stream.writeStream.format("graft-table")
        .option("warehouse", w).option("table", "gM")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination(120000)
    } finally spark.conf.unset("spark.sql.streaming.checkpointLocation")
    assert(msgs(eM).exists(_.contains("marker scope")), msgs(eM).mkString(" | "))
    // tombstone-column without dedup-column: a delete verdict could lose
    // to a stale update inside one micro-batch — refused
    val eT = intercept[Exception] {
      stream.withColumn("del", lit(false))
        .writeStream.format("graft-table")
        .option("warehouse", w).option("table", "gT")
        .option("identifier-fields", "id").option("mode", "upsert")
        .option("tombstone-column", "del")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ckT").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination(120000)
    }
    assert(msgs(eT).exists(_.contains("dedup-column")), msgs(eT).mkString(" | "))
  }

  test("sink schema: consumed tombstone/dedup meta columns are exempt from the unknown-column check") {
    val w = wh
    val in = java.nio.file.Files.createTempDirectory("graft-meta-in").toString
    val ck = java.nio.file.Files.createTempDirectory("graft-meta-ck").toString
    // the target PRE-EXISTS with only the logical schema — the
    // changelog→sink pairing's normal shape (a replica created by DDL,
    // not by the sink's create-on-first-batch)
    val logical = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val t = ManagedTable.create(spark, w, "metacons", logical.schema, Seq("id"))
    t.append(logical)
    // stream rows carry renamed seq + delete-verdict META columns the
    // sink consumes: an update for key 1 and a hard delete for key 2
    Seq((1L, "a2", 10L, false), (2L, "b", 11L, true))
      .toDF("id", "v", "src_seq", "src_del").repartition(1).write.json(s"$in/b1")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("src_seq", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("src_del", org.apache.spark.sql.types.BooleanType)))
    def run(merge: Boolean): Unit = {
      val wr = spark.readStream.schema(schema).json(s"$in/*")
        .writeStream.format("graft-table")
        .option("warehouse", w).option("table", "metacons")
        .option("mode", "upsert")
        .option("tombstone-column", "src_del").option("dedup-column", "src_seq")
        .option("checkpointLocation", ck)
      (if (merge) wr.option("merge-schema", "true") else wr)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination(120000)
    }
    run(merge = false) // must NOT refuse: the meta columns are consumed, not written
    val after = ManagedTable.load(spark, w, "metacons").get
    assert(after.meta.schema.fieldNames.toSeq == Seq("id", "v"),
      "consumed meta columns must never evolve into the table")
    val got = after.read().select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a2")), s"update applied, delete verdict honored: $got")
    // and merge-schema=true still evolves only GENUINE data columns
    Seq((3L, "c", 12L, false, 7L)).toDF("id", "v", "src_seq", "src_del", "extra")
      .repartition(1).write.json(s"$in/b2")
    val schema2 = org.apache.spark.sql.types.StructType(schema.fields :+
      org.apache.spark.sql.types.StructField("extra", org.apache.spark.sql.types.LongType))
    spark.readStream.schema(schema2).json(s"$in/*")
      .writeStream.format("graft-table")
      .option("warehouse", w).option("table", "metacons")
      .option("mode", "upsert")
      .option("tombstone-column", "src_del").option("dedup-column", "src_seq")
      .option("merge-schema", "true")
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination(120000)
    val evolved = ManagedTable.load(spark, w, "metacons").get
    assert(evolved.meta.schema.fieldNames.toSeq == Seq("id", "v", "extra"),
      "merge-schema evolves the data column but never the consumed meta columns")
  }

  test("changelog source: the engine's startOffset is the rate-limit base after a cold restart") {
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val w = wh
    val df = Seq((1L, "a")).toDF("id", "v")
    val t = ManagedTable.create(spark, w, "rlb", df.schema, Seq("id"))
    (1 to 5).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("id", "v"))) // v1..v5
    val schema = org.apache.spark.sql.types.StructType(df.schema.fields ++ Seq(
      org.apache.spark.sql.types.StructField(ManagedTable.SeqCol,
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField(ManagedTable.TombstoneCol,
        org.apache.spark.sql.types.BooleanType, nullable = false)))
    // fresh instance = post-restart state, with NO getBatch replay yet:
    // the committed offset the engine hands in must bound the next batch
    val src = new GraftStreamSource(spark, w, "rlb", schema,
      maxVersionsPerTrigger = Some(2L))
    val got = src.latestOffset(LongOffset(3L), ReadLimit.maxRows(2L))
    assert(got == LongOffset(5L),
      s"capped poll must advance from the ENGINE's offset 3, got $got " +
        "(an in-memory base would re-serve committed versions 1-3)")
  }

  test("sink schema: unknown columns refuse by default, merge-schema=true evolves") {
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    val w = wh
    val in = java.nio.file.Files.createTempDirectory("graft-evo-in").toString
    Seq((1L, "a")).toDF("id", "v").repartition(1).write.json(s"$in/b1")
    val s2 = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    def run(ck: String, schema: org.apache.spark.sql.types.StructType,
            merge: Boolean): Unit = {
      val wr = spark.readStream.schema(schema).json(s"$in/*")
        .writeStream.format("graft-table")
        .option("warehouse", w).option("table", "evo")
        .option("identifier-fields", "id").option("mode", "upsert")
        .option("dedup-column", "id")
        .option("checkpointLocation", ck)
      (if (merge) wr.option("merge-schema", "true") else wr)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination(120000)
    }
    run(java.nio.file.Files.createTempDirectory("ckE1").toString, s2, merge = false)
    assert(ManagedTable.load(spark, w, "evo").get.read().count() == 1)
    // the stream widens (a restarted pipeline with an evolved upstream):
    // default = precise refusal, NOT a silent conformTo drop
    val s3 = org.apache.spark.sql.types.StructType(s2.fields :+
      org.apache.spark.sql.types.StructField("extra", org.apache.spark.sql.types.LongType))
    Seq((2L, "b", 7L)).toDF("id", "v", "extra").repartition(1).write.json(s"$in/b2")
    val e = intercept[Exception] {
      run(java.nio.file.Files.createTempDirectory("ckE2").toString, s3, merge = false)
    }
    assert(msgs(e).exists(m => m.contains("merge-schema") && m.contains("extra")),
      msgs(e).mkString(" | "))
    assert(ManagedTable.load(spark, w, "evo").get.read().count() == 1,
      "a refused batch must not partially apply")
    // merge-schema=true: the table evolves union-by-name; pre-evolution
    // rows read the new column as null, the new row keeps its value
    run(java.nio.file.Files.createTempDirectory("ckE3").toString, s3, merge = true)
    val t = ManagedTable.load(spark, w, "evo").get
    assert(t.meta.schema.fieldNames.contains("extra"))
    val got = t.read().select("id", "extra").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getLong(1))).toMap
    assert(got == Map(1L -> null, 2L -> 7L), got.toString)
  }
}
