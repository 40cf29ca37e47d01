package graft.tables

import graft.SharedSpark
import graft.cdc.CdcApply
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import org.apache.spark.sql.Row
import scala.jdk.CollectionConverters._

/** Manifest Bloom filters for equality pruning on unsorted columns:
  * the identifier-column filters every commit builds in its write pass
  * (sized to the group's rows, [[BloomMeta.bitsFor]]), the
  * [[ManagedTable.buildBlooms]] pass for other columns, and their probes
  * in the one manifest pruning rule ([[ManagedTable.readPrunedConjunction]],
  * behind both [[ManagedTable.readWhereEq]] and the V2 scan planner) and
  * in the posdel-on-commit candidate search. Filters carry the domain
  * their values were hashed in, so a widened column never trusts a filter
  * built under its old type.
  */
class BloomSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private def tmpWarehouse(): String = Files.createTempDirectory("graft-wh").toString

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("tag", StringType),
    StructField("v", LongType),
    StructField("__op", StringType)))

  private def rows(t: (Int, String, Long)*) =
    t.toSeq.toDF("id", "tag", "v").withColumn("__op", lit("u"))

  test("readWhereEq ≡ filter on string and long columns; filters survive reload") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "b1", schema, Seq("id"))
    // three separate commits → three groups with disjoint tag spaces
    t.append(rows((1 to 50).map(i => (i, s"alpha$i", i * 3L)): _*))
    t.append(rows((51 to 100).map(i => (i, s"beta$i", i * 3L)): _*))
    t.append(rows((101 to 150).map(i => (i, s"gamma$i", i * 3L)): _*))
    assert(t.buildBlooms(Seq("tag", "v")) == 3)
    for (probe <- Seq("alpha7", "beta77", "gamma149", "nosuch")) {
      val got = t.readWhereEq("tag", probe).select("id").as[Int].collect().toSet
      val want = t.read().filter(col("tag") === probe).select("id").as[Int].collect().toSet
      assert(got == want, s"probe $probe")
    }
    assert(t.readWhereEq("v", 33L).select("id").as[Int].collect().toSeq == Seq(11))
    // reload: filters ride the manifest
    val re = ManagedTable.load(spark, wh, "b1").get
    assert(re.readWhereEq("tag", "beta77").count() == 1)
  }

  test("pruning is real: a one-group probe opens one group's files") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "b2", schema, Seq("id"))
    t.append(rows((1 to 40).map(i => (i, s"x$i", i.toLong)): _*))
    t.append(rows((41 to 80).map(i => (i, s"y$i", i.toLong)): _*))
    t.buildBlooms(Seq("tag"))
    val all = t.read().inputFiles.length
    val probed = t.readWhereEq("tag", "y55").inputFiles.length
    assert(probed < all, s"no pruning: $probed vs $all")
    assert(t.readWhereEq("tag", "y55").count() == 1)
  }

  test("groups committed after the build have no filter and are never pruned") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "b3", schema, Seq("id"))
    t.append(rows((1, "old", 1L)))
    t.buildBlooms(Seq("tag"))
    t.append(rows((2, "fresh", 2L)))
    assert(t.readWhereEq("tag", "fresh").select("id").as[Int].collect().toSeq == Seq(2))
  }

  test("sound under MoR deletes: a bloom-pruned read never resurrects hidden rows") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "b4", schema, Seq("id"))
    t.merge(rows((1, "keep", 1L), (2, "drop", 2L)),
      CdcApply.UpsertConfig(dedupColumn = "v"))
    t.buildBlooms(Seq("tag"))
    // hard-delete id=2, then probe its old tag: the delete landed AFTER
    // the build, in a bloom-less upsert group that must still hide it
    t.merge(Seq((2, "drop", 2L, "d")).toDF("id", "tag", "v", "__op"),
      CdcApply.UpsertConfig(keepDeletes = false, dedupColumn = "v"))
    assert(t.readWhereEq("tag", "drop").count() == 0)
    assert(t.readWhereEq("tag", "keep").count() == 1)
    // compaction rewrites groups → their filters drop with the entries
    t.compact()
    assert(t.readWhereEq("tag", "keep").count() == 1)
    val re = ManagedTable.load(spark, wh, "b4").get
    assert(re.meta.currentVersion == t.meta.currentVersion)
  }

  test("readWhereEq on a non-identifier column opens no other tuple's upserts for its DV sidecar") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "b_dv", schema, Seq("id"), partitionBy = Seq("tag"),
      properties = Map("write.mor.posdel-on-commit" -> "always",
        "write.mor.compact-after-upserts" -> "0"))
    val cfg = CdcApply.UpsertConfig(dedupColumn = "v")
    t.append(rows((1 to 20).map(i => (i, "a", i.toLong)) ++
      (21 to 40).map(i => (i, "b", 1000L + i)): _*))
    // one upsert group per tuple, each with its tuple's posdel sidecar
    t.merge(rows((1 to 5).map(i => (i, "a", 100L + i)) ++
      (21 to 25).map(i => (i, "b", 2000L + i)): _*), cfg)
    t.analyzeColumns(Seq("v"))
    val entries = t.v2SnapshotEntries
    def of(kind: String, tuple: String) =
      entries.filter(e => e.kind == kind && e.partition.get("tag").contains(tuple))
    assert(of(Manifest.PosDel, "b").nonEmpty && of(Manifest.Upsert, "b").nonEmpty,
      s"expected a sidecar and an upsert group in tuple b: $entries")
    for (v <- Seq(10L, 3L, 103L, 1030L, 2022L, 7777L)) {
      val eq = t.readWhereEq("v", v)
      val conj = t.readPrunedConjunction(
        Seq(ManagedTable.PruneConjunct("v", Some(v), Some(v))))
      assert(eq.inputFiles.toSet == conj.inputFiles.toSet, s"probe $v")
      assert(eq.select("id").as[Int].collect().toSet ==
        t.read().filter(col("v") === v).select("id").as[Int].collect().toSet, s"probe $v")
    }
    // v = 10 lives in tuple a only: tuple b's upsert group stays closed
    val bUpserts = of(Manifest.Upsert, "b").map(_.path)
    assert(!t.readWhereEq("v", 10L).inputFiles.exists(f => bUpserts.exists(f.contains)))
  }

  test("guards: unknown column, non-power-of-two bits, null probe") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "b5", schema, Seq("id"))
    t.append(rows((1, "a", 1L)))
    assertThrows[IllegalArgumentException] { t.buildBlooms(Seq("nope")) }
    assertThrows[IllegalArgumentException] { t.buildBlooms(Seq("tag"), bits = 1000) }
    assertThrows[IllegalArgumentException] { t.readWhereEq("tag", null) }
  }

  private def idFilters(t: ManagedTable, c: String): Seq[(ManifestEntry, Option[BloomMeta])] =
    t.v2SnapshotEntries.filter(e => e.kind == Manifest.Data || e.kind == Manifest.Upsert)
      .map(e => e -> e.blooms.get(c))

  /** A session catalog `cat` over `wh`, for `cat.<t>` reads. */
  private def catalog(cat: String, wh: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
  }

  test("every commit builds identifier filters, sized to the group; driver ≡ distributed bit for bit") {
    val sch = StructType(Seq(
      StructField("i", IntegerType, nullable = false),
      StructField("l", LongType, nullable = false),
      StructField("s", StringType, nullable = false),
      StructField("d", DoubleType, nullable = false),
      StructField("v", StringType)))
    val data = (0 until 300).map { n =>
      val d = n % 7 match {
        case 0 => -0.0
        case 1 => Double.NaN
        case _ => n * 0.5
      }
      Row(n * 13, n * 1000003L - 7L, s"k$n", d, s"v$n")
    }
    val wh = tmpWarehouse()
    val local = ManagedTable.create(spark, wh, "drv", sch, Seq("i", "l", "s", "d"))
    val dist = ManagedTable.create(spark, wh, "dst", sch, Seq("i", "l", "s", "d"))
    local.append(spark.createDataFrame(data.asJava, sch)) // local relation: driver write
    dist.append(spark.createDataFrame(spark.sparkContext.parallelize(data, 3), sch))
    for (c <- Seq("i", "l", "s", "d")) {
      val Seq((le, Some(lb))) = idFilters(local, c)
      val Seq((de, Some(db))) = idFilters(dist, c)
      assert(le.rows == 300 && lb.m == BloomMeta.bitsFor(300) && lb.k == BloomMeta.K)
      assert(lb == db, s"$c: driver and distributed filters differ")
    }
    assert(idFilters(local, "i").head._2.get.domain == "i")
    assert(idFilters(local, "d").head._2.get.domain == "f")
    assert(idFilters(local, "s").head._2.get.domain == "string")
    assert(local.v2SnapshotEntries.head.blooms.keySet == Set("i", "l", "s", "d"))
    // SQL equality: -0.0 = 0.0 and NaN = NaN, whatever the NaN's bits
    val oddNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000123L)
    for (t <- Seq(local, dist); p <- Seq(0.0, -0.0, Double.NaN, oddNaN, 1.0, 2.0)) {
      val want = t.read().filter(col("d") === p).count()
      assert(t.readWhereEq("d", p).count() == want, s"d = $p")
    }
    // an append-only table builds none
    val plain = ManagedTable.create(spark, wh, "plain", sch, Seq.empty)
    plain.append(spark.createDataFrame(data.asJava, sch))
    assert(plain.v2SnapshotEntries.forall(_.blooms.isEmpty))
  }

  test("a CdcPipeline upsert table carries an identifier filter on every group, on both commit paths") {
    import graft.streaming.{CdcPipeline, PipelineConfig}
    import graft.cdc.EventFactory
    val root = tmpWarehouse()
    val fast = PipelineConfig(warehouse = s"$root/fast", keepDeletes = false)
    val slow = PipelineConfig(warehouse = s"$root/slow", keepDeletes = false,
      smallBatchMaxRows = 0, smallBatchMaxBytes = 0)
    def batch(ids: Range, op: String, ts: Long) =
      ids.map(i => EventFactory.event(i, s"n$i", op, ts)).toDF("destination", "key", "value")
    for (cfg <- Seq(fast, slow)) {
      CdcPipeline.processBatch(spark, batch(1 to 40, "c", 1L), cfg, batchId = 0L)
      CdcPipeline.processBatch(spark, batch(30 to 60, "u", 2L).repartition(3), cfg, batchId = 1L)
      CdcPipeline.processBatch(spark, batch(5 to 9, "d", 3L), cfg, batchId = 2L)
      val t = ManagedTable.load(spark, cfg.warehouse, "testc_inventory_customers").get
      val fs = idFilters(t, "id")
      assert(fs.size == 3, s"groups: ${fs.map(_._1.path)}")
      fs.foreach { case (e, b) =>
        assert(b.exists(f => f.domain == "i" && f.m == BloomMeta.bitsFor(e.rows)),
          s"${e.path}: $b")
      }
      for (k <- Seq(1, 7, 35, 60, 61, 1000)) assert(
        t.readWhereEq("id", k).count() == t.read().filter(col("id") === k).count(), s"id $k")
    }
  }

  test("a point lookup through the catalog serves only the groups whose filter may hold the key") {
    val wh = tmpWarehouse()
    catalog("blwh", wh)
    val t = ManagedTable.create(spark, wh, "pl", schema, Seq("id"))
    // eight groups whose even keys interleave: every group's key bounds
    // span the whole key range, so only the filters can prune
    (0 until 8).foreach(g => t.append(rows((0 until 100).map { j =>
      val id = 2 * (8 * j + g); (id, s"t$id", id.toLong) }: _*)))
    val groups = t.v2SnapshotEntries.size
    assert(groups == 8 && t.v2SnapshotEntries.forall(_.blooms.contains("id")))
    def served(k: Int) = graft.catalog.GraftScan.servedGroupDirs(
      spark.sql(s"SELECT * FROM blwh.pl WHERE id = $k"))
    for (absent <- Seq(3, 501, 999, 1201)) {
      assert(served(absent) == 0, s"absent key $absent")
      assert(spark.sql(s"SELECT * FROM blwh.pl WHERE id = $absent").collect().isEmpty)
      assert(spark.sql(s"SELECT count(*), max(tag) FROM blwh.pl WHERE id = $absent")
        .collect().head.getLong(0) == 0L)
    }
    val probe = new BloomMeta.Probe(IntegerType)
    for (live <- Seq(0, 2, 640, 1598)) {
      val may = t.v2SnapshotEntries.count(e => probe.mightContain(e.blooms.get("id"), live))
      assert(served(live) == may && may < groups, s"live key $live: ${served(live)} of $may")
      assert(spark.sql(s"SELECT id FROM blwh.pl WHERE id = $live").as[Int].collect().toSeq == Seq(live))
    }
  }

  test("widening int→long and float→double never trusts a filter hashed under the old type") {
    val sch = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("f", FloatType),
      StructField("v", LongType),
      StructField("__op", StringType)))
    val wh = tmpWarehouse()
    catalog("blwide", wh)
    val t = ManagedTable.create(spark, wh, "wide", sch, Seq("id"),
      properties = Map("write.mor.compact-after-upserts" -> "0"))
    def batch(ids: Seq[Int]) = spark.createDataFrame(
      ids.map(i => Row(i, i + 0.5f, i.toLong, "c")).asJava, sch)
    t.append(batch(1 to 20))
    t.append(batch(21 to 40))
    t.buildBlooms(Seq("id", "f"))
    val wider = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("f", DoubleType),
      StructField("v", LongType),
      StructField("__op", StringType)))
    assert(t.evolve(wider))
    for (k <- Seq(7L, 33L)) {
      assert(t.readWhereEq("id", k).count() == 1, s"readWhereEq id $k")
      assert(spark.sql(s"SELECT * FROM blwide.wide WHERE id = $k").count() == 1, s"wh id $k")
      assert(t.readWhereEq("f", k + 0.5).count() == 1, s"readWhereEq f ${k + 0.5}")
      assert(spark.sql(s"SELECT * FROM blwide.wide WHERE f = ${k + 0.5}D").count() == 1)
    }
    // delete a pre-widening key with posdel-on-commit: the candidate probe
    // must find its group, or the sidecar misses the row and it resurfaces
    t.setProperties(Map("write.mor.posdel-on-commit" -> "always"))
    t.merge(spark.createDataFrame(Seq(Row(7L, 7.5, 100L, "d")).asJava, wider),
      CdcApply.UpsertConfig(keepDeletes = false, dedupColumn = "v"))
    assert(t.v2SnapshotEntries.exists(_.kind == Manifest.PosDel))
    assert(t.read().filter(col("id") === 7L).count() == 0)
    assert(t.read().count() == 39)
    // groups written after the widening hash in the same domains
    t.merge(spark.createDataFrame(Seq(Row(50L, 50.5, 1L, "c")).asJava, wider),
      CdcApply.UpsertConfig(keepDeletes = false, dedupColumn = "v"))
    assert(t.readWhereEq("id", 50L).count() == 1)
    assert(t.readWhereEq("id", 33L).count() == 1)
  }

  test("no false negatives across evolve, rename, re-key, minor/full/clustered compaction, DML and posdel chains") {
    val sch = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("w", StringType),
      StructField("v", LongType),
      StructField("__op", StringType)))
    val wh = tmpWarehouse()
    catalog("blchain", wh)
    val t = ManagedTable.create(spark, wh, "chain", sch, Seq("id"),
      properties = Map("write.mor.compact-after-upserts" -> "0"))
    val cfg = CdcApply.UpsertConfig(keepDeletes = false, dedupColumn = "v")
    val rnd = new scala.util.Random(11)
    var ts = 0L
    def upsert(ids: Seq[Long], op: String = "u"): Unit = {
      ts += 1
      val cur = t.meta.schema
      val rs = ids.distinct.map(i => Row.fromSeq(cur.fieldNames.toSeq.map {
        case "id" => i; case "v" => ts; case "__op" => op
        case "w" => s"w$i"; case other => s"$other$i"
      }))
      t.merge(spark.createDataFrame(rs.asJava, cur), cfg)
    }
    def check(stage: String, key: String = "id"): Unit = {
      val keys: Seq[Any] =
        if (key == "id") Seq(0L, 1L, 5L, 17L, 42L, 99L, 150L, 199L, 250L)
        else Seq("w1", "w17", "w42", "w150", "nope")
      for (k <- keys) {
        val want = t.read().filter(col(key) === k).count()
        assert(t.readWhereEq(key, k).count() == want, s"$stage: readWhereEq $key = $k")
        val lit = k match { case s: String => s"'$s'"; case n => s"${n}L" }
        assert(spark.sql(s"SELECT * FROM blchain.chain WHERE $key = $lit").count() == want,
          s"$stage: catalog $key = $k")
      }
    }
    upsert(0L until 100L, "c")
    upsert(Seq.fill(30)(rnd.nextInt(200).toLong))
    check("upserts")
    t.evolve(StructType(sch.fields :+ StructField("extra", StringType)))
    upsert(Seq.fill(30)(rnd.nextInt(200).toLong))
    check("evolve")
    t.renameColumn("extra", "extra2")
    upsert(Seq.fill(30)(rnd.nextInt(200).toLong))
    check("rename")
    t.compactMinor()
    check("compactMinor")
    t.setProperties(Map("write.mor.posdel-on-commit" -> "always"))
    t.materializePositionalDeletes() // starts the sidecar chain
    upsert(Seq(1L, 5L, 42L), "d")
    upsert(Seq.fill(20)(rnd.nextInt(200).toLong))
    upsert(Seq(17L, 150L), "d")
    assert(t.v2SnapshotEntries.count(_.kind == Manifest.PosDel) >= 2)
    check("posdel chain")
    t.deleteWhere(col("id") === 99L)
    check("deleteWhere")
    t.compact()
    check("compact")
    t.setProperties(Map("write.cluster-by" -> "id,v"))
    upsert(Seq.fill(20)(rnd.nextInt(200).toLong))
    t.compact()
    check("clustered compact")
    t.unsetProperties(Seq("write.cluster-by"))
    t.setIdentifierFields(Seq("w"))
    t.merge(spark.createDataFrame(Seq(Row.fromSeq(t.meta.schema.fieldNames.toSeq.map {
      case "id" => 500L; case "v" => 1000L; case "__op" => "d"; case "w" => "w42"
      case _ => null })).asJava, t.meta.schema), cfg)
    check("re-key", key = "w")
    assert(idFilters(t, "w").exists(_._2.isDefined))
  }

  test("Manifest round-trips a filter's domain tag; untagged filters are ignored") {
    val tagged = BloomMeta(64, 4, java.util.Base64.getEncoder.encodeToString(new Array[Byte](8)), "i")
    val untagged = tagged.copy(domain = "")
    val e = ManifestEntry("files/data-1-abcdef01", Manifest.Data, 1L,
      blooms = Map("a" -> tagged, "b" -> untagged))
    val back = Manifest.fromJson(Manifest.toJson(Seq(e)))
    assert(back == Seq(e))
    // an all-zero filter rejects every value in its domain, but a probe
    // ignores it under another domain or with no tag
    assert(!new BloomMeta.Probe(LongType).mightContain(Some(tagged), 3L))
    assert(new BloomMeta.Probe(StringType).mightContain(Some(tagged), "x"))
    assert(new BloomMeta.Probe(LongType).mightContain(Some(untagged), 3L))
  }
}
