package graft.tables

import graft.SharedSpark
import graft.cdc.CdcApply
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class ManagedTableSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private def tmpWarehouse(): String =
    Files.createTempDirectory("graft-wh").toString

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("name", StringType),
    StructField("__op", StringType),
    StructField("__source_ts_ns", LongType)))

  private def rows(t: (Int, String, String, Long)*) =
    t.toSeq.toDF("id", "name", "__op", "__source_ts_ns")

  test("partition spec parser D4: transforms, both bucket arg orders, lenient skip") {
    val cols = Set("ts", "id", "name")
    val specs = PartitionSpecParser.parse(
      Seq("name", "year(ts)", "month(ts)", "day(ts)", "hour(ts)",
        "bucket(16,id)", "bucket(id,8)", "truncate(3,name)", "missing_col"), cols)
    assert(specs.map(_.name) == Seq("name", "ts_year", "ts_month", "ts_day",
      "ts_hour", "id_bucket", "id_bucket", "name_trunc"))
    assertThrows[IllegalArgumentException] {
      PartitionSpecParser.parse(Seq("missing_col"), cols, strict = true)
    }
    assertThrows[IllegalArgumentException] {
      PartitionSpecParser.parse(Seq("wat(ts)"), cols)
    }
  }

  test("create/load/append/read roundtrip (D3, D7, W1)") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "customers", schema, Seq("id"))
    t.append(rows((1, "a", "c", 1L), (2, "b", "c", 1L)))
    assert(t.read().count() == 2)
    val re = ManagedTable.load(spark, wh, "customers").get
    assert(re.meta.identifierFields == Seq("id"))
    assert(re.read().orderBy("id").select("name").as[String].collect().toSeq == Seq("a", "b"))
    assert(ManagedTable.load(spark, wh, "nope").isEmpty)
  }

  test("unpartitioned merge: upsert + hard delete + snapshot time travel (C3-C5, W6)") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "c2", schema, Seq("id"))
    t.merge(rows((1, "a", "c", 1L), (2, "b", "c", 1L)))
    t.merge(rows((1, "a2", "u", 2L), (3, "c", "c", 2L), (2, null, "d", 2L)),
      CdcApply.UpsertConfig(keepDeletes = false))
    val now = t.read().orderBy("id").select("id", "name").collect().map(r => (r.getInt(0), r.getString(1)))
    assert(now.toSeq == Seq((1, "a2"), (3, "c")))
    // previous snapshot still readable
    val prev = t.readVersion(t.meta.currentVersion - 1)
    assert(prev.count() == 2)
  }

  test("partitioned merge is MoR: O(batch) commits, existing groups untouched") {
    val wh = tmpWarehouse()
    val pschema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("day", StringType),
      StructField("name", StringType),
      StructField("__op", StringType),
      StructField("__source_ts_ns", LongType)))
    val t = ManagedTable.create(spark, wh, "pt", pschema, Seq("id"), partitionBy = Seq("day"))
    def prows(t0: (Int, String, String, String, Long)*) =
      t0.toSeq.toDF("id", "day", "name", "__op", "__source_ts_ns")
    t.merge(prows((1, "d1", "a", "c", 1L), (2, "d2", "b", "c", 1L)))
    // one group per touched partition, tuple recorded in the manifest
    assert(t.partitions().toSet == Set(Map("day" -> "d1"), Map("day" -> "d2")))
    val files = new java.io.File(s"$wh/pt/files")
    val before = files.listFiles().flatMap(_.listFiles())
      .filter(_.getName.endsWith(".parquet")).map(f => f.getPath -> f.lastModified()).toMap
    Thread.sleep(20)
    t.merge(prows((2, "d2", "b2", "u", 2L), (3, "d2", "c", "c", 2L)))
    // NO existing group is rewritten — not even the touched partition's
    before.foreach { case (p, m) =>
      val f = new java.io.File(p)
      assert(f.exists() && f.lastModified() == m, s"existing group rewritten: $p")
    }
    val out = t.read().orderBy("id").select("id", "name").collect().map(r => (r.getInt(0), r.getString(1)))
    assert(out.toSeq == Seq((1, "a"), (2, "b2"), (3, "c")))
  }

  test("partitioned merge: partition emptied by hard delete vanishes after compaction") {
    val wh = tmpWarehouse()
    val pschema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("day", StringType),
      StructField("__op", StringType),
      StructField("__source_ts_ns", LongType)))
    val t = ManagedTable.create(spark, wh, "pt2", pschema, Seq("id"), partitionBy = Seq("day"))
    val mk = (l: Seq[(Int, String, String, Long)]) => l.toDF("id", "day", "__op", "__source_ts_ns")
    t.merge(mk(Seq((1, "d1", "c", 1L), (2, "d2", "c", 1L))))
    t.merge(mk(Seq((1, "d1", "d", 2L))), CdcApply.UpsertConfig(keepDeletes = false))
    assert(t.read().select("id").as[Int].collect().toSeq == Seq(2))
    t.compact()
    assert(t.read().select("id").as[Int].collect().toSeq == Seq(2))
    // the emptied tuple has no surviving group in the manifest
    assert(t.partitions().toSet == Set(Map("day" -> "d2")))
  }

  test("derived transform partitioning: day(ts) prunes at the manifest level") {
    val wh = tmpWarehouse()
    val s = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("ts", TimestampType),
      StructField("__op", StringType),
      StructField("__source_ts_ns", LongType)))
    val t = ManagedTable.create(spark, wh, "ev", s, Seq("id"), partitionBy = Seq("day(ts)"))
    val df = Seq(
      (1, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "c", 1L),
      (2, java.sql.Timestamp.valueOf("2024-01-02 10:00:00"), "c", 1L)
    ).toDF("id", "ts", "__op", "__source_ts_ns")
    t.merge(df)
    assert(t.partitions().toSet ==
      Set(Map("ts_day" -> "2024-01-01"), Map("ts_day" -> "2024-01-02")))
    val pruned = t.readPartitions(_("ts_day") == "2024-01-01")
    assert(pruned.count() == 1)
    // manifest pruning: only the selected tuple's group is even opened
    val full = t.readPhysical()
    assert(pruned.inputFiles.length < full.inputFiles.length)
    assert(pruned.inputFiles.toSet.subsetOf(full.inputFiles.toSet))
    // derived partition column rides in the data files
    assert(pruned.select("ts_day").as[String].collect().toSeq == Seq("2024-01-01"))
  }

  test("schema evolution D6: add column, old files read as null, no-op guarded") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "sv", schema, Seq("id"))
    t.merge(rows((1, "a", "c", 1L)))
    val evolved = StructType(schema.fields :+ StructField("email", StringType))
    assert(t.evolve(evolved))
    assert(!t.evolve(evolved), "no-op evolution must not commit")
    assert(t.meta.schema.fieldNames.contains("email"))
    val r = t.read().collect().head
    assert(r.isNullAt(r.fieldIndex("email")))
    // new batch with the new column merges fine
    val b = Seq((1, "a2", "u", 2L, "a@x.io")).toDF("id", "name", "__op", "__source_ts_ns", "email")
    t.merge(b)
    assert(t.read().select("email").as[String].collect().toSeq == Seq("a@x.io"))
  }

  test("rolling file size W10: target-file-size-bytes property splits output files") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_w10").toString
    val df = (1 to 1000).map(i => (i.toLong, s"row$i")).toDF("id", "name")
    val t = ManagedTable.create(spark, wh, "rolled", df.schema, Seq("id"), Seq.empty,
      // 100 rows/file: 25600 bytes target at 256 estimated row bytes
      Map("write.target-file-size-bytes" -> "25600"))
    t.append(df.coalesce(1)) // single partition input would be one file without W10
    val files = new java.io.File(s"$wh/rolled/files").listFiles()
      .flatMap(_.listFiles()).count(_.getName.endsWith(".parquet"))
    assert(files >= 10, s"expected >=10 rolled files, got $files")
    assert(t.read().count() == 1000)
  }

  test("ORC write format via write.format-default; views expose SQL surface") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_orc").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    val t = ManagedTable.create(spark, wh, "orc_t", df.schema, Seq("id"), Seq.empty,
      Map("write.format-default" -> "orc"))
    t.append(df)
    assert(new java.io.File(s"$wh/orc_t/files").listFiles()
      .flatMap(_.listFiles()).exists(_.getName.endsWith(".orc")))
    assert(t.read().count() == 2)
    val names = ManagedTable.registerAllViews(spark, wh)
    assert(names == Seq("orc_t"))
    assert(spark.sql("SELECT count(*) FROM orc_t WHERE id = 1").head().getLong(0) == 1L)
  }

  test("compact() coalesces small files, preserves data, bumps snapshot") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val schema = Seq((1L, "a")).toDF("id", "name").schema

    // unpartitioned: many small appends → many files
    val t1 = ManagedTable.create(spark, wh, "small_files", schema, Seq("id"))
    (1 to 8).foreach(i => t1.append(Seq((i.toLong, s"n$i")).toDF("id", "name")))
    val (b1, a1) = t1.compact()
    assert(b1 >= 8 && a1 < b1, s"$b1 -> $a1")
    assert(t1.read().count() == 8)

    // partitioned: compaction rewrites per partition via dir swap
    val pdf = (1 to 40).map(i => (i.toLong, s"n$i", i % 2)).toDF("id", "name", "p")
    val t2 = ManagedTable.create(spark, wh, "small_parts",
      pdf.schema, Seq("id"), Seq("p"))
    (0 until 4).foreach(_ => t2.append(pdf.limit(10)))
    val (b2, a2) = t2.compact()
    assert(b2 > a2, s"$b2 -> $a2")
    assert(t2.read().count() == 40)
    assert(t2.read().where(col("p") === 1).count() > 0)
  }

  test("overwrite W7: single-row metadata table semantics") {
    val wh = tmpWarehouse()
    val s = StructType(Seq(StructField("id", StringType), StructField("offset_data", StringType)))
    val t = ManagedTable.create(spark, wh, "offsets", s)
    t.overwrite(Seq(("o1", "{}")).toDF("id", "offset_data"))
    t.overwrite(Seq(("o1", """{"lsn":42}""")).toDF("id", "offset_data"))
    val out = t.read().collect()
    assert(out.length == 1 && out.head.getString(1).contains("42"))
  }

  test("meta.json swap crash windows recover on read") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "metarec", schema, Seq("id"))
    t.append(rows((1, "a", "c", 1L)))
    val dir = new java.io.File(s"$wh/metarec")
    val meta = new java.io.File(dir, "meta.json")
    val aside = new java.io.File(dir, ".meta.json.__old")
    // crash between rename-aside and rename-in: only the aside exists
    assert(meta.renameTo(aside))
    val re = ManagedTable.load(spark, wh, "metarec")
    assert(re.isDefined, "load must recover the renamed-aside pointer")
    assert(re.get.read().count() == 1)
    assert(meta.exists() && !aside.exists())
    // leftover aside next to a live pointer is ignored (swap completed)
    java.nio.file.Files.copy(meta.toPath, aside.toPath)
    val re2 = ManagedTable.load(spark, wh, "metarec")
    assert(re2.get.read().count() == 1)
  }

  test("partitioned commits are atomic: time travel, crashed-append invisibility, replay markers") {
    val wh = tmpWarehouse()
    val pschema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("day", StringType),
      StructField("__op", StringType),
      StructField("__source_ts_ns", LongType)))
    val t = ManagedTable.create(spark, wh, "patom", pschema, Seq("id"),
      partitionBy = Seq("day"), properties = Map("write.versions-retained" -> "5"))
    val mk = (l: Seq[(Int, String, String, Long)]) => l.toDF("id", "day", "__op", "__source_ts_ns")
    t.append(mk(Seq((1, "d1", "c", 1L))))
    val v1 = t.meta.currentVersion
    val afterV1 = System.currentTimeMillis()
    Thread.sleep(15)
    t.merge(mk(Seq((1, "d1", "u", 2L), (2, "d2", "c", 2L))))
    // snapshot log + version time travel work on partitioned tables
    val vs = t.versions()
    assert(vs.map(_._1).sorted == vs.map(_._1) && vs.size >= 3)
    assert(t.readVersion(v1).count() == 1)
    assert(t.readAsOf(afterV1).count() == 1)
    assert(t.read().count() == 2)
    // a crashed commit's orphan group is invisible to readers; commits no
    // longer list files/ (round 12 manifest-diff GC), so the debris stays
    // until removeOrphanFiles maintenance — which spares nothing referenced
    // and sweeps the stale orphan
    val orphan = new java.io.File(s"$wh/patom/files/data-99-orphan")
    orphan.mkdirs()
    orphan.setLastModified(System.currentTimeMillis() - 10L * 60 * 1000)
    assert(t.read().count() == 2)
    t.append(mk(Seq((3, "d3", "c", 3L))))
    assert(orphan.exists(), "commits must not list/sweep files/ (crash debris is maintenance's job)")
    assert(t.removeOrphanFiles(System.currentTimeMillis()) == 1)
    assert(!orphan.exists(), "stale orphan group must be GC'd by removeOrphanFiles")
    // commit properties ride the partitioned pointer flip (replay markers)
    t.append(mk(Seq((4, "d1", "c", 4L))), Map("cdc.last-batch-id" -> "7"))
    assert(ManagedTable.load(spark, wh, "patom").get
      .meta.properties.get("cdc.last-batch-id").contains("7"))
  }

  test("partition-scoped deletes: a key whose partition value changes keeps the old-partition row") {
    // documented shared limitation with the reference: equality deletes
    // are partition-granular, so an upsert never reaches across tuples —
    // and pruned reads agree with full reads on every partition
    val wh = tmpWarehouse()
    val pschema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("day", StringType),
      StructField("__op", StringType),
      StructField("__source_ts_ns", LongType)))
    val t = ManagedTable.create(spark, wh, "pmove", pschema, Seq("id"), partitionBy = Seq("day"))
    val mk = (l: Seq[(Int, String, String, Long)]) => l.toDF("id", "day", "__op", "__source_ts_ns")
    t.merge(mk(Seq((1, "d1", "c", 1L))))
    t.merge(mk(Seq((1, "d2", "u", 2L)))) // same key, new partition value
    val rows = t.read().select("id", "day").collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(rows == Set((1, "d1"), (1, "d2")), s"partition-scoped delete semantics changed: $rows")
    // pruned read of d1 matches the full read's d1 slice
    assert(t.readPartitions(_("day") == "d1").count() == 1)
    // within a tuple the delete still applies
    t.merge(mk(Seq((1, "d2", "u", 3L))))
    assert(t.readPartitions(_("day") == "d2").count() == 1)
  }

  test("stale-handle evolve()/setProperties() are rejected; reloaded handle succeeds") {
    val wh = tmpWarehouse()
    ManagedTable.create(spark, wh, "occ_meta", schema, Seq("id"))
    val h1 = ManagedTable.load(spark, wh, "occ_meta").get
    val h2 = ManagedTable.load(spark, wh, "occ_meta").get
    h1.append(rows((1, "a", "c", 1L)))
    val evolved = StructType(schema.fields :+ StructField("email", StringType))
    assertThrows[java.util.ConcurrentModificationException](h2.evolve(evolved))
    assertThrows[java.util.ConcurrentModificationException](
      h2.setProperties(Map("k" -> "v")))
    // the stale handle's failure must not have clobbered anything
    val re = ManagedTable.load(spark, wh, "occ_meta").get
    assert(!re.meta.schema.fieldNames.contains("email"))
    assert(!re.meta.properties.contains("k"))
    // a no-op evolve on a stale handle stays a quiet no-op (no commit)
    assert(!h2.evolve(schema))
    // reloaded handle evolves fine
    assert(re.evolve(evolved))
    re.setProperties(Map("k" -> "v"))
    val re2 = ManagedTable.load(spark, wh, "occ_meta").get
    assert(re2.meta.schema.fieldNames.contains("email") && re2.meta.properties("k") == "v")
  }

  test("MoR: merge writes only new file groups — existing groups untouched (O(batch) writes)") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "mor1", schema, Seq("id"))
    t.merge(rows((1, "a", "c", 1L), (2, "b", "c", 1L)))
    val filesDir = new java.io.File(s"$wh/mor1/files")
    val before = filesDir.listFiles().flatMap(_.listFiles())
      .filter(_.getName.endsWith(".parquet")).map(f => f.getPath -> f.lastModified()).toMap
    Thread.sleep(20)
    t.merge(rows((2, "b2", "u", 2L), (3, "c", "c", 2L)))
    before.foreach { case (p, m) =>
      val f = new java.io.File(p)
      assert(f.exists() && f.lastModified() == m, s"existing group file rewritten: $p")
    }
    val out = t.read().orderBy("id").select("id", "name").collect()
      .map(r => (r.getInt(0), r.getString(1)))
    assert(out.toSeq == Seq((1, "a"), (2, "b2"), (3, "c")))
    // merge batches land as upsert groups (self-delete-scoped) until compaction folds them
    assert(filesDir.listFiles().exists(_.getName.startsWith("upsert-")))
  }

  test("MoR: readVersion(N) is byte-stable across a later append; unreferenced groups invisible") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "mor2", schema, Seq("id"))
    t.append(rows((1, "a", "c", 1L)))
    val v1 = t.meta.currentVersion
    val v1Files = new java.io.File(s"$wh/mor2/files").listFiles().flatMap(_.listFiles())
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getPath -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
    t.append(rows((2, "b", "c", 2L)))
    assert(t.readVersion(v1).count() == 1, "old version must still read 1 row")
    v1Files.foreach { case (p, bytes) =>
      assert(java.nio.file.Files.readAllBytes(new java.io.File(p).toPath).toSeq == bytes,
        s"version-$v1 data file changed on append: $p")
    }
    // a crashed append's orphan group is invisible to readers; commits no
    // longer list files/ (round 12 manifest-diff GC) — debris is
    // removeOrphanFiles maintenance, whose commit-lease grace floor still
    // spares young dirs (they may be a concurrent appender's in-flight
    // staging)
    val orphan = new java.io.File(s"$wh/mor2/files/data-99-orphan")
    orphan.mkdirs()
    orphan.setLastModified(System.currentTimeMillis() - 10L * 60 * 1000)
    assert(t.read().count() == 2)
    val young = new java.io.File(s"$wh/mor2/files/data-98-young")
    young.mkdirs() // fresh unreferenced dir: spared by the grace floor
    t.append(rows((3, "c", "c", 3L)))
    assert(orphan.exists(), "commits must not list/sweep files/ (crash debris is maintenance's job)")
    assert(t.removeOrphanFiles(System.currentTimeMillis()) == 1)
    assert(!orphan.exists(), "stale orphan group must be GC'd by removeOrphanFiles")
    assert(young.exists(), "a young unreferenced group must survive the sweep (in-flight staging)")
    assert(t.read().count() == 3)
  }

  test("MoR: compact folds upsert groups + tombstones away, preserves the merged view") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "mor3", schema, Seq("id"))
    t.merge(rows((1, "a", "c", 1L), (2, "b", "c", 1L)))
    t.merge(rows((1, "a2", "u", 2L), (2, null, "d", 2L)), CdcApply.UpsertConfig(keepDeletes = false))
    t.merge(rows((3, "c", "c", 3L)))
    val expect = t.read().orderBy("id").select("id", "name").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(expect == Seq((1, "a2"), (3, "c")))
    val (before, after) = t.compact()
    assert(after < before, s"$before -> $after")
    val filesDir = new java.io.File(s"$wh/mor3/files")
    // current manifest is upsert-free: after one more commit cycle only
    // data groups remain PHYSICALLY too — the sweep spares young dirs
    // (possible in-flight staging), so age everything past the grace
    t.append(rows((4, "d", "c", 4L)))
    filesDir.listFiles().foreach(_.setLastModified(System.currentTimeMillis() - 10L * 60 * 1000))
    t.append(rows((5, "e", "c", 5L)))
    assert(!filesDir.listFiles().exists(_.getName.startsWith("upsert-")),
      "upsert groups must be gone after compaction + GC")
    val out = t.read().orderBy("id").select("id", "name").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(out == Seq((1, "a2"), (3, "c"), (4, "d"), (5, "e")))
  }

  test("MoR: per-merge write cost stays O(batch) while the table grows") {
    import spark.implicits._
    val wh = tmpWarehouse()
    // seed a comparatively large base, then trickle constant-size batches
    val base = (1 to 20000).map(i => (i, s"name$i", "c", 1L)).toDF("id", "name", "__op", "__source_ts_ns")
    val t = ManagedTable.create(spark, wh, "grow", base.schema, Seq("id"))
    t.merge(base)
    def groupBytes(dir: java.io.File): Long =
      Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val written = (1 to 3).map { b =>
      val batch = (1 to 50).map(i => (b * 100000 + i, s"n$i", "c", b.toLong))
        .toDF("id", "name", "__op", "__source_ts_ns")
      val before = new java.io.File(s"$wh/grow/files").listFiles().map(_.getName).toSet
      t.merge(batch)
      val newDirs = new java.io.File(s"$wh/grow/files").listFiles()
        .filter(d => !before.contains(d.getName))
      newDirs.map(groupBytes).sum
    }
    // each merge writes one batch-sized group: bytes are flat, not growing
    // with the (much larger) table — the COW path would rewrite ~20k rows
    assert(written.forall(_ > 0))
    val spread = written.max.toDouble / written.min
    assert(spread < 2.0, s"per-batch written bytes should be constant-ish, got $written")
    val baseBytes = groupBytes(new java.io.File(s"$wh/grow/files").listFiles()
      .filter(_.getName.contains("-1-")).head)
    assert(written.max < baseBytes / 4,
      s"trickle batches (${written.max}B) must not rewrite table-scale data (${baseBytes}B base)")
  }

  test("MoR: auto minor-compaction bounds trickle groups without touching the base") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "autoc", schema, Seq("id"),
      properties = Map("write.mor.compact-after-upserts" -> "3"))
    t.merge(rows((0, "base", "c", 0L))) // min-seq base group
    val baseFile = new java.io.File(s"$wh/autoc/files").listFiles()
      .filter(_.getName.startsWith("upsert-1-")).head.listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val baseM = baseFile.lastModified()
    Thread.sleep(20)
    (1 to 5).foreach(i => t.merge(rows((i, s"n$i", "c", i.toLong))))
    val t2 = ManagedTable.load(spark, wh, "autoc").get
    assert(t2.read().count() == 6)
    // trickle suffix keeps folding into one group: live upsert groups stay
    // bounded (base + folded + at most threshold-1 fresh)
    val live = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      s"$wh/autoc/manifests/v=${t2.meta.currentVersion}.json")))
    val upserts = "\"kind\" : \"upsert\"".r.findAllIn(live).size
    assert(upserts <= 3, s"auto minor-compact must bound upsert groups, manifest: $live")
    // O(trickle), not O(table): the base group is never rewritten
    assert(baseFile.exists() && baseFile.lastModified() == baseM,
      "minor compaction must not touch the min-seq base group")
    // a hard delete folded through minor compaction still hides base rows
    t2.merge(rows((0, null, "d", 99L)), CdcApply.UpsertConfig(keepDeletes = false))
    (6 to 8).foreach(i => t2.merge(rows((i, s"n$i", "c", i.toLong))))
    assert(!t2.read().select("id").collect().map(_.getInt(0)).contains(0),
      "tombstone must survive minor folds and keep deleting the base row")
  }

  test("targeted compaction: partitions under the small-group threshold are not rewritten") {
    import spark.implicits._
    val wh = tmpWarehouse()
    val pdf = Seq((1L, "a", "hot")).toDF("id", "name", "p")
    val t = ManagedTable.create(spark, wh, "tc", pdf.schema, Seq("id"), Seq("p"))
    // hot partition: 3 appends -> 3 groups; cold partition: 1 group
    (1 to 3).foreach(i => t.append(Seq((i.toLong, s"h$i", "hot")).toDF("id", "name", "p")))
    t.append(Seq((10L, "c1", "cold")).toDF("id", "name", "p"))
    val fs = TableMeta.fs(spark.sparkContext.hadoopConfiguration, wh)
    def entries = Manifest.read(fs,
      new org.apache.hadoop.fs.Path(s"$wh/tc/manifests/v=${
        ManagedTable.load(spark, wh, "tc").get.meta.currentVersion}.json")).get
    val coldGroup = entries.filter(_.partition == Map("p" -> "cold"))
    assert(coldGroup.size == 1)
    val coldFile = new java.io.File(s"$wh/tc/${coldGroup.head.path}").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val coldM = coldFile.lastModified()
    Thread.sleep(20)
    val (before, after) = t.compact()
    assert(after < before, s"$before -> $after")
    // cold tuple kept its exact group (not rewritten)
    assert(entries.filter(_.partition == Map("p" -> "cold")) == coldGroup)
    assert(coldFile.exists() && coldFile.lastModified() == coldM,
      "cold partition was rewritten by compaction")
    // hot tuple folded to one group
    assert(entries.count(_.partition == Map("p" -> "hot")) == 1)
    assert(t.read().count() == 4)
  }

  test("MoR: a crashed commit's leftover manifest is overwritten by the next commit") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "crashm", schema, Seq("id"))
    t.append(rows((1, "a", "c", 1L))) // v=1
    // simulate a crash after the manifest write but before the pointer
    // flip: an orphan v=2 manifest referencing a group that was GC'd
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$wh/crashm/manifests/v=2.json"),
      """{"entries":[{"path":"files/data-2-dead","kind":"data","seq":2}]}""".getBytes)
    // readers still see v=1 (pointer never flipped)
    assert(t.read().count() == 1)
    // the replayed commit takes over version 2 cleanly
    t.append(rows((2, "b", "c", 2L)))
    assert(t.meta.currentVersion == 2)
    assert(t.read().count() == 2)
    val re = ManagedTable.load(spark, wh, "crashm").get
    assert(re.read().count() == 2)
  }

  test("MoR: pk int->long promotion keeps old upsert groups' delete side readable") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "promo_pk", schema, Seq("id"))
    t.merge(rows((1, "a", "c", 1L), (2, "b", "c", 1L)))
    t.merge(rows((1, "a2", "u", 2L)))          // second upsert group = live delete side
    t.evolve(StructType(Seq(StructField("id", LongType, nullable = false))))
    assert(t.meta.schema("id").dataType == LongType)
    // read now scans int32-keyed groups (data AND delete side) as long
    val out = t.read().orderBy("id").select("id", "name").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq((1L, "a2"), (2L, "b")))
    // and a post-evolution long-keyed merge still hides the int32-era row
    t.merge(Seq((1L, "a3", "u", 3L)).toDF("id", "name", "__op", "__source_ts_ns"))
    assert(t.read().where(col("id") === 1).select("name").as[String].collect().toSeq == Seq("a3"))
  }

  test("MoR: write.versions-retained keeps N previous versions readable, expires older") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "ret", schema, Seq("id"),
      properties = Map("write.versions-retained" -> "3"))
    t.append(rows((1, "a", "c", 1L)))
    val v1 = t.meta.currentVersion
    t.append(rows((2, "b", "c", 2L)))
    t.append(rows((3, "c", "c", 3L)))
    t.append(rows((4, "d", "c", 4L)))
    // v1..v4 live: 3 previous + current
    assert(t.readVersion(v1).count() == 1)
    assert(t.readVersion(v1 + 2).count() == 3)
    t.append(rows((5, "e", "c", 5L)))
    // v1 expired now (4 previous would exceed retention=3)
    intercept[IllegalArgumentException](t.readVersion(v1))
    assert(t.readVersion(v1 + 1).count() == 2, "within-retention version must survive")
    assert(t.read().count() == 5)
    // default retention (1 previous) still supports single-step time travel
    val d = ManagedTable.create(spark, wh, "ret_default", schema, Seq("id"))
    d.append(rows((1, "a", "c", 1L)))
    val dv = d.meta.currentVersion
    d.append(rows((2, "b", "c", 2L)))
    assert(d.readVersion(dv).count() == 1)
    d.append(rows((3, "c", "c", 3L)))
    intercept[IllegalArgumentException](d.readVersion(dv))
  }

  test("timestamp time travel: readAsOf resolves the last snapshot at-or-before the instant") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "asof", schema, Seq("id"),
      properties = Map("write.versions-retained" -> "5"))
    t.append(rows((1, "a", "c", 1L)))
    val afterV1 = System.currentTimeMillis()
    Thread.sleep(15) // commit clocks must be distinguishable
    t.merge(rows((1, "a2", "u", 2L), (2, "b", "c", 2L)))
    val afterV2 = System.currentTimeMillis()
    Thread.sleep(15)
    t.merge(rows((2, null, "d", 3L)))

    // snapshot log is ascending and spans every retained version
    val vs = t.versions()
    assert(vs.map(_._1) == vs.map(_._1).sorted && vs.size >= 4) // v0..v3
    assert(vs.map(_._2) == vs.map(_._2).sorted)

    assert(t.readAsOf(afterV1).select("name").as[String].collect().toSeq == Seq("a"))
    assert(t.readAsOf(afterV2).orderBy("id").select("name").as[String]
      .collect().toSeq == Seq("a2", "b"))
    // default merge keeps the delete row (soft delete): key 2 survives as
    // an __op='d' marker with null payload
    assert(t.readAsOf(System.currentTimeMillis()).orderBy("id")
      .select("name").as[String].collect().toSeq == Seq("a2", null))
    // before the table existed: refuse rather than answer with later state
    intercept[IllegalArgumentException](t.readAsOf(afterV1 - 1000000L))
  }

  test("MoR: readChangesBetween yields net per-key changes, at-least-once under compaction") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "chg", schema, Seq("id"),
      properties = Map("write.mor.compact-after-upserts" -> "0")) // manual control
    t.merge(rows((1, "a", "c", 1L), (2, "b", "c", 1L)))                 // v1
    val v1 = t.meta.currentVersion
    t.merge(rows((1, "a2", "u", 2L), (3, "c", "c", 2L)))                // v2
    t.merge(rows((2, null, "d", 3L)), CdcApply.UpsertConfig(keepDeletes = false)) // v3
    val v3 = t.meta.currentVersion

    def changes(from: Long, to: Long) =
      t.readChangesBetween(from, to)
        .select(col("id"), col("name"), col(ManagedTable.TombstoneCol).as("del"))
        .collect().map(r => (r.getInt(0), Option(r.getString(1)), r.getBoolean(2))).toSet

    // (v1, v3]: id=1 latest update, id=3 insert, id=2 hard delete marker
    assert(changes(v1, v3) == Set((1, Some("a2"), false), (3, Some("c"), false), (2, None, true)))
    // (v2, v3]: only the delete
    assert(changes(v1 + 1, v3) == Set((2, None, true)))
    // empty range
    assert(t.readChangesBetween(v3, v3).count() == 0)
    // full-history read matches the table state plus delete notifications
    val full = changes(0, v3)
    assert(full.contains((1, Some("a2"), false)) && full.contains((2, None, true)))

    // after a minor compaction, the same consumer position replays at least the same changes
    t.merge(rows((4, "d", "c", 4L)))                                    // v4
    val beforeFold = changes(v1, t.meta.currentVersion)
    t.compactMinor()
    val afterFold = changes(v1, t.meta.currentVersion)
    assert(beforeFold.subsetOf(afterFold),
      s"at-least-once violated: ${beforeFold.diff(afterFold)} lost by compaction")
  }

  test("MoR: manifest column bounds prune key-range scans to intersecting groups") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "stats", schema, Seq("id"),
      properties = Map("write.mor.compact-after-upserts" -> "0"))
    t.append(rows((1, "a", "c", 1L), (10, "b", "c", 1L)))     // bounds [1,10]
    t.append(rows((100, "x", "c", 2L), (200, "y", "c", 2L)))  // bounds [100,200]
    t.merge(rows((150, "y2", "u", 3L)))                        // bounds [150,150]

    // full read sees everything; range read returns the filtered subset
    assert(t.read().count() == 5)
    val r = t.readKeyRange("id", 100, 250)
    assert(r.select("id").collect().map(_.getInt(0)).sorted.toSeq == Seq(100, 150, 200))

    // pruning: the [1,10] group's files are not even opened
    val lowGroupFiles = t.readKeyRange("id", 1, 10).inputFiles.toSet
    val highGroupFiles = r.inputFiles.toSet
    assert(lowGroupFiles.nonEmpty && highGroupFiles.nonEmpty)
    assert(lowGroupFiles.intersect(highGroupFiles).isEmpty,
      s"disjoint ranges must scan disjoint groups:\n$lowGroupFiles\n$highGroupFiles")

    // a range that misses every group scans nothing and returns nothing
    val none = t.readKeyRange("id", 300, 400)
    assert(none.count() == 0 && none.inputFiles.isEmpty)

    // point lookup equals the unpruned read's answer (delete correctness:
    // the merge at seq 3 must still hide the seq-2 version of id=150)
    val point = t.readKeyRange("id", 150, 150).select("id", "name").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(point == Seq((150, "y2")))

    // pre-stats manifests (no bounds) are never pruned: simulate by
    // stripping stats from the current manifest
    val fs = TableMeta.fs(spark.sparkContext.hadoopConfiguration, wh)
    val mPath = new org.apache.hadoop.fs.Path(s"$wh/stats/manifests/v=${t.meta.currentVersion}.json")
    val stripped = Manifest.read(fs, mPath).get.map(_.copy(stats = Map.empty))
    fs.delete(mPath, false)
    Manifest.write(fs, mPath, stripped)
    val t2 = ManagedTable.load(spark, wh, "stats").get
    assert(t2.readKeyRange("id", 1, 10).select("id").collect().map(_.getInt(0)).sorted.toSeq
      == Seq(1, 10))
  }

  test("load sweeps staging dirs a hard crash orphaned; live data untouched") {
    val wh = tmpWarehouse()
    val t0 = ManagedTable.create(spark, wh, "sweep", schema, Seq("id"))
    t0.append(rows((1, "a", "c", 1L)))
    val fs = TableMeta.fs(spark.sparkContext.hadoopConfiguration, wh)
    Seq(".stage-dead", ".compact-dead", ".zcompact-dead").foreach { d =>
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$wh/sweep/$d/part"))
    }
    val t = ManagedTable.load(spark, wh, "sweep").get
    Seq(".stage-dead", ".compact-dead", ".zcompact-dead").foreach { d =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$wh/sweep/$d")), s"$d not swept")
    }
    assert(t.read().count() == 1)
  }

  test("incremental aggregate maintenance: chained O(changes) refreshes equal full recompute") {
    val wh = tmpWarehouse()
    val s = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("grp", StringType), StructField("v", IntegerType),
      StructField("__op", StringType), StructField("__source_ts_ns", LongType)))
    def gr(t: (Int, String, Int, String, Long)*) = t.toSeq.toDF("id", "grp", "v", "__op", "__source_ts_ns")
    val t = ManagedTable.create(spark, wh, "iagg", s, Seq("id"),
      properties = Map("write.versions-retained" -> "10", "write.mor.compact-after-upserts" -> "0"))
    t.append(gr((1, "a", 10, "c", 1L), (2, "a", 20, "c", 1L), (3, "b", 30, "c", 1L)))
    val v1 = t.meta.currentVersion
    val agg1 = IncrementalAgg.fullAgg(t, Seq("grp"), Seq("v"))

    // update 1 (a→b, value change), hard-delete 2, insert 4 in group c
    t.merge(gr((1, "b", 11, "u", 2L), (2, "a", 0, "d", 2L), (4, "c", 40, "c", 2L)),
      graft.cdc.CdcApply.UpsertConfig(keepDeletes = false))
    val v2 = t.meta.currentVersion
    val agg2 = IncrementalAgg.maintain(t, v1, v2, agg1, Seq("grp"), Seq("v"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(canon(agg2) == canon(IncrementalAgg.fullAgg(t, Seq("grp"), Seq("v"))))
    // group "a" vanished entirely (1 moved out, 2 deleted)
    assert(!canon(agg2).exists(_._1 == "a"))

    // chain a second refresh window on top of the maintained state,
    // including a NULL group key (must merge, not split into two rows)
    t.merge(gr((3, "b", 300, "u", 3L), (5, "a", 5, "c", 3L)))
    t.merge(Seq((6, Option.empty[String], 7, "c", 3L), (7, Option.empty[String], 8, "c", 3L))
      .toDF("id", "grp", "v", "__op", "__source_ts_ns"))
    val v3 = t.meta.currentVersion
    val agg3 = IncrementalAgg.maintain(t, v2, v3, agg2, Seq("grp"), Seq("v"))
    def canonN(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSet
    assert(canonN(agg3) == canonN(IncrementalAgg.fullAgg(t, Seq("grp"), Seq("v"))))
    assert(canonN(agg3).count(_._1.isEmpty) == 1, "null group must be one merged row")
    // and a further window that UPDATES inside the null group still merges
    t.merge(gr((6, "c", 70, "u", 4L)))
    val v4 = t.meta.currentVersion
    val agg4 = IncrementalAgg.maintain(t, v3, v4, agg3, Seq("grp"), Seq("v"))
    assert(canonN(agg4) == canonN(IncrementalAgg.fullAgg(t, Seq("grp"), Seq("v"))))
  }

  test("stale-handle commits are rejected, not silently clobbered (optimistic concurrency)") {
    val wh = tmpWarehouse()
    // retry-num=0 pins the RAW rejection signal (with the default retry,
    // a stale append transparently reloads and lands — covered by the
    // concurrent-appenders test)
    ManagedTable.create(spark, wh, "occ", schema, Seq("id"),
      properties = Map("commit.retry-num" -> "0"))
    val h1 = ManagedTable.load(spark, wh, "occ").get
    val h2 = ManagedTable.load(spark, wh, "occ").get
    h1.append(rows((1, "a", "c", 1L)))
    // h2 still believes version 0 — its commit must fail on any path
    assertThrows[java.util.ConcurrentModificationException] {
      h2.append(rows((2, "b", "c", 1L)))
    }
    assertThrows[java.util.ConcurrentModificationException] {
      h2.merge(rows((2, "b", "u", 2L)))
    }
    // h1's snapshot is intact and a RELOADED handle commits fine
    assert(ManagedTable.load(spark, wh, "occ").get.read().count() == 1)
    val h3 = ManagedTable.load(spark, wh, "occ").get
    h3.append(rows((2, "b", "c", 1L)))
    assert(ManagedTable.load(spark, wh, "occ").get.read().count() == 2)
  }

  test("driver-side local commit ≡ distributed write across rich types") {
    // Same merges into two tables, one with the driver-side small-group
    // writer (default for local-relation batches), one forced onto the
    // distributed write path — contents must match across decimals,
    // timestamps (tz and ntz), dates, binary, arrays, maps and structs.
    val rich = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("dec", DecimalType(20, 4)),
      StructField("ts", TimestampType),
      StructField("tsntz", TimestampNTZType),
      StructField("dt", DateType),
      StructField("bin", BinaryType),
      StructField("arr", ArrayType(LongType)),
      StructField("m", MapType(StringType, DoubleType)),
      StructField("st", StructType(Seq(StructField("a", StringType), StructField("b", IntegerType)))),
      StructField("__op", StringType),
      StructField("__source_ts_ns", LongType)))
    def batch(op: String, ts: Long, tag: String) = {
      import org.apache.spark.sql.Row
      val rows: Seq[Row] = (1 to 50).map { i =>
        Row(i, BigDecimal(s"$i.25"), java.sql.Timestamp.valueOf(s"2024-01-0${i % 9 + 1} 10:00:00"),
          java.time.LocalDateTime.of(2024, 1, i % 28 + 1, 3, 4, 5),
          java.sql.Date.valueOf(s"2024-02-0${i % 9 + 1}"),
          Array[Byte](i.toByte, (i + 1).toByte), Seq(i.toLong, i * 2L),
          Map(s"k$i" -> i * 1.5), Row(s"$tag$i", i),
          if (i % 10 == 0) op else "u", ts)
      }
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), rich)
    }
    val wh = tmpWarehouse()
    val local = ManagedTable.create(spark, wh, "rich_local", rich, Seq("id"))
    val dist = ManagedTable.create(spark, wh, "rich_dist", rich, Seq("id"),
      properties = Map("write.local-commit-max-rows" -> "0"))
    for (t <- Seq(local, dist)) {
      t.merge(batch("c", 1L, "a"))
      t.merge(batch("d", 2L, "b")) // every 10th id hard-deletes on replay
    }
    val l = local.read().orderBy("id").collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq; case x => x }).toSeq
    val d = dist.read().orderBy("id").collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq; case x => x }).toSeq
    assert(l == d, "driver-side and distributed writes diverged")
    assert(l.size == 50)
    // and the driver-written group carries usable identifier bounds
    val fs = TableMeta.fs(spark.sparkContext.hadoopConfiguration, wh)
    val entries = Manifest.read(fs,
      new org.apache.hadoop.fs.Path(s"$wh/rich_local/manifests/v=${local.meta.currentVersion}.json")).get
    assert(entries.forall(_.stats.contains("id")), "driver-side stats missing")
  }

  test("posdel sidecar: materialization preserves the view; equality side resets; survives folds") {
    val wh = tmpWarehouse()
    // control table: identical merges, never materialized
    def mkTable(name: String) = ManagedTable.create(spark, wh, name, schema, Seq("id"),
      properties = Map("write.mor.compact-after-upserts" -> "0",
        "write.versions-retained" -> "50"))
    val t = mkTable("pd"); val control = mkTable("pd_ctl")
    def mergeBoth(rows_ : org.apache.spark.sql.DataFrame): Unit = { t.merge(rows_); control.merge(rows_) }
    def state(x: ManagedTable) = x.read().orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    mergeBoth(rows((1, "a", "c", 1L), (2, "b", "c", 1L), (3, "c", "c", 1L)))
    mergeBoth(rows((1, "a2", "u", 2L), (4, "d", "c", 2L)))
    mergeBoth(rows((2, "b2", "u", 3L), (3, null, "d", 3L)))

    val before = state(t)
    val n = t.materializePositionalDeletes()
    assert(n > 0, "expected hidden rows to materialize")
    assert(state(t) == before, "materialization changed the visible table")
    assert(state(t) == state(control))
    // the manifest carries the sidecar and readers drop the absorbed scopes
    val fs = TableMeta.fs(spark.sparkContext.hadoopConfiguration, wh)
    def entries(x: ManagedTable) = Manifest.read(fs, new org.apache.hadoop.fs.Path(
      s"$wh/${x.name}/manifests/v=${x.meta.currentVersion}.json")).get
    assert(entries(t).count(_.kind == Manifest.PosDel) == 1)

    // merges after materialization: equality path handles the new scopes
    mergeBoth(rows((4, "d2", "u", 4L), (1, null, "d", 4L)))
    assert(state(t) == state(control))
    // second materialization folds the old sidecar into the new one
    assert(t.materializePositionalDeletes() > 0)
    assert(entries(t).count(_.kind == Manifest.PosDel) == 1)
    assert(state(t) == state(control))
    // time travel to a pre-materialization version still resolves
    assert(t.readVersion(2).count() == 4) // ids 1(a2),2,3,4 before batch 3

    // minor compaction after more trickle: folds only upsert groups,
    // dangling pairs for rewritten files are harmless
    mergeBoth(rows((5, "e", "c", 5L)))
    mergeBoth(rows((5, "e2", "u", 6L), (2, "b3", "u", 6L)))
    t.compactMinor();
    assert(state(t) == state(control))
    // a full compact drops the sidecar entirely
    t.compact()
    assert(entries(t).count(_.kind == Manifest.PosDel) == 0)
    assert(state(t) == state(control))
  }

  test("commit CAS: two writers racing the same version window — exactly one wins (retry off)") {
    val wh = tmpWarehouse()
    // retry off: this test pins the RAW claim protocol — the loser gets
    // the reload-and-retry signal instead of an automatic redo
    ManagedTable.create(spark, wh, "cas", schema, Seq("id"),
      properties = Map("commit.retry-num" -> "0"))
    val h1 = ManagedTable.load(spark, wh, "cas").get
    val h2 = ManagedTable.load(spark, wh, "cas").get
    // both handles believe version 0; race the commits on two threads —
    // the create-exclusive claim (or the pointer check, depending on
    // interleaving) must let exactly one through
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val attempts = Seq((h1, rows((1, "a", "c", 1L))), (h2, rows((2, "b", "c", 1L))))
    val outcomes = Await.result(Future.sequence(attempts.map { case (h, df) =>
      Future(try { h.append(df); Right(()) }
      catch { case e: java.util.ConcurrentModificationException => Left(e) })
    }), 2.minutes)
    assert(outcomes.count(_.isRight) == 1, s"expected exactly one winner, got $outcomes")
    assert(ManagedTable.load(spark, wh, "cas").get.read().count() == 1)
  }

  test("append retry aborts when the conflicting commit moved OUR replay marker") {
    val wh = tmpWarehouse()
    ManagedTable.create(spark, wh, "casm", schema, Seq("id"))
    val h1 = ManagedTable.load(spark, wh, "casm").get
    val h2 = ManagedTable.load(spark, wh, "casm").get
    // both replay the SAME batch id (zombie-driver duplicate): the winner
    // stamps the marker; the loser's auto-retry must SURFACE the conflict
    // (so the caller re-runs its check-then-append) instead of blindly
    // re-staging the same batch a second time
    h1.append(rows((1, "a", "c", 1L)), Map("cdc.last-batch-id" -> "7"))
    assertThrows[java.util.ConcurrentModificationException] {
      h2.append(rows((1, "a", "c", 1L)), Map("cdc.last-batch-id" -> "7"))
    }
    assert(ManagedTable.load(spark, wh, "casm").get.read().count() == 1,
      "the duplicate replay must not land twice")
    // a DIFFERENT marker value still conflicts (the caller's check is
    // stale either way) …
    assertThrows[java.util.ConcurrentModificationException] {
      h2.append(rows((2, "b", "c", 2L)), Map("cdc.last-batch-id" -> "8"))
    }
    // … but a marker-free stale append retries and lands as usual
    h2.append(rows((3, "c", "c", 3L)))
    assert(ManagedTable.load(spark, wh, "casm").get.read().count() == 2)
  }

  test("append commit retry: concurrent appenders all land without caller retry loops") {
    val wh = tmpWarehouse()
    // retention high enough that every version's manifest survives for
    // the changelog replay below; retry-num stays at its default
    ManagedTable.create(spark, wh, "casr", schema, Seq("id"),
      properties = Map("write.versions-retained" -> "15"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // 4 writers, 3 appends each, all racing from stale handles — every
    // append must land (redo reloads the pointer and re-stages)
    val futs = (0 until 4).map { w =>
      Future {
        val h = ManagedTable.load(spark, wh, "casr").get
        (0 until 3).foreach { i =>
          val id = w * 10 + i
          h.append(rows((id, s"w$w-$i", "c", id.toLong)))
        }
      }
    }
    Await.result(Future.sequence(futs), 3.minutes)
    val t = ManagedTable.load(spark, wh, "casr").get
    assert(t.read().count() == 12, "every concurrent append must commit exactly once")
    assert(t.meta.currentVersion == 12L, "each append is its own version")
    // per-writer batch ids arrived intact (no batch lost or doubled)
    val names = t.read().select("name").collect().map(_.getString(0)).toSet
    assert(names == (for (w <- 0 until 4; i <- 0 until 3) yield s"w$w-$i").toSet)
    // the changelog contract survives retried commits: every version
    // range replays to exactly its own batch
    val perVersion = (1L to 12L).map(v =>
      t.readChangesBetween(v - 1, v).count()).sum
    assert(perVersion == 12L, "rebased/retried appends must stay changelog-visible")
  }

  test("commit CAS: an unexpired claim blocks the window; an expired claim is rolled back") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "lease", schema, Seq("id"))
    val fs = TableMeta.fs(spark.sparkContext.hadoopConfiguration, wh)
    // simulate another writer that claimed version 1 (passed the pointer
    // check) but hasn't flipped the pointer yet: a fresh claim within the
    // grace lease must be refused with the reload-retry signal
    val lock = new org.apache.hadoop.fs.Path(s"$wh/lease/manifests/v=1.lock")
    fs.create(lock, false).close()
    assertThrows[java.util.ConcurrentModificationException] {
      t.append(rows((1, "a", "c", 1L)))
    }
    assert(t.read().count() == 0) // nothing committed
    // once the lease expires (grace 0 = every existing claim is stale) the
    // crashed commit is rolled back and the claim retaken
    t.setProperties(Map("commit.lock-grace-ms" -> "0"))
    t.append(rows((1, "a", "c", 1L)))
    assert(ManagedTable.load(spark, wh, "lease").get.read().count() == 1)
  }

  test("metadata OCC: a stale handle's data commit cannot erase a concurrent tag") {
    val wh = tmpWarehouse()
    val a = ManagedTable.create(spark, wh, "mgen", schema, Seq("id"),
      properties = Map("write.versions-retained" -> "1"))
    a.append(rows((1, "x", "c", 1L)))
    val b = ManagedTable.load(spark, wh, "mgen").get
    // b commits metadata only: version unchanged, generation bumped
    b.tag("baseline")
    // a's cached meta has no tag — its data commit must refuse, not
    // silently clobber the tag and then GC the pinned snapshot
    assertThrows[java.util.ConcurrentModificationException] {
      a.merge(rows((2, "y", "c", 2L)))
    }
    // reload-retry works, and the tag (plus its pinned snapshot) survives
    val a2 = ManagedTable.load(spark, wh, "mgen").get
    a2.merge(rows((2, "y", "c", 2L)))
    a2.merge(rows((3, "z", "c", 3L)))
    assert(a2.tags().contains("baseline"))
    assert(a2.readTag("baseline").count() == 1)
  }

  test("commit CAS: a fenced writer resuming after lease break cannot clobber the new commit") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "fence", schema, Seq("id"))
    val fs = TableMeta.fs(spark.sparkContext.hadoopConfiguration, wh)
    // a "slow" writer's claim for v=1 with a foreign fence token
    val lock = new org.apache.hadoop.fs.Path(s"$wh/fence/manifests/v=1.lock")
    val out = fs.create(lock, false); out.write("slow-writer-token".getBytes("UTF-8")); out.close()
    // lease expired: this writer breaks it, retakes under its own token,
    // and commits; the slow writer's token no longer matches the claim
    val t2 = ManagedTable.load(spark, wh, "fence").get
    t2.setProperties(Map("commit.lock-grace-ms" -> "0"))
    t2.append(rows((1, "a", "c", 1L)))
    assert(t2.read().count() == 1)
    // the claim file was released by the successful commit's GC sweep —
    // the slow writer's token is gone, so its fence check would fail
    assert(!fs.exists(lock) ||
      !new String({ val in = fs.open(lock); try in.readAllBytes() finally in.close() },
        "UTF-8").contains("slow-writer-token"))
  }

  test("z-order clustered compaction: bounds prune on EITHER clustered column, deletes stay sound") {
    val wh = tmpWarehouse()
    val zschema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("x", IntegerType), StructField("y", IntegerType),
      StructField("__op", StringType),
      StructField("__source_ts_ns", LongType)))
    def zrows(t: (Int, Int, Int, String)*) =
      t.toSeq.map(r => (r._1, r._2, r._3, r._4, 9L))
        .toDF("id", "x", "y", "__op", "__source_ts_ns")
    val t = ManagedTable.create(spark, wh, "zt", zschema, Seq("id"),
      properties = Map("write.cluster-by" -> "x,y", "compact.cluster-groups" -> "8",
        "write.mor.compact-after-upserts" -> "0"))
    // a 16x16 grid in one unclustered append
    t.append((0 until 256).map(i => (i, i % 16, i / 16, "c", 1L))
      .toDF("id", "x", "y", "__op", "__source_ts_ns"))
    t.compact()

    val fs = TableMeta.fs(spark.sparkContext.hadoopConfiguration, wh)
    val entries = Manifest.read(fs,
      new org.apache.hadoop.fs.Path(s"$wh/zt/manifests/v=${t.meta.currentVersion}.json")).get
    assert(entries.size == 8, s"expected 8 clustered groups, got ${entries.size}")
    assert(entries.forall(e => e.stats.contains("x") && e.stats.contains("y") &&
      e.stats.contains("id")), "every group must carry bounds on x, y, and id")

    // narrow scans on either dimension prune files AND return exact answers
    val full = t.read()
    val xScan = t.readColRange("x", 0, 1)
    assert(xScan.select("id").collect().map(_.getInt(0)).sorted.toSeq ==
      (0 until 256).filter(i => i % 16 <= 1).toSeq)
    assert(xScan.inputFiles.length < full.inputFiles.length,
      s"x-scan opened ${xScan.inputFiles.length}/${full.inputFiles.length} files — no pruning")
    val yScan = t.readColRange("y", 14, 15)
    assert(yScan.select("id").collect().map(_.getInt(0)).sorted.toSeq ==
      (0 until 256).filter(i => i / 16 >= 14).toSeq)
    assert(yScan.inputFiles.length < full.inputFiles.length,
      s"y-scan opened ${yScan.inputFiles.length}/${full.inputFiles.length} files — no pruning")

    // non-identifier pruning stays sound under MoR deletes: an upsert
    // moves id=5's x out of [5,5]; the old row must NOT resurrect even
    // though the upsert group's x-bounds don't intersect the scan range
    t.merge(zrows((5, 500, 0, "u")))
    assert(t.readColRange("x", 5, 5).filter(col("id") === 5).count() == 0,
      "stale row resurrected: upsert group's deletes were pruned away")
    assert(t.readColRange("x", 500, 500).select("id").collect().map(_.getInt(0)).toSeq == Seq(5))
    // identifier-column pruning still prunes every kind soundly
    assert(t.readKeyRange("id", 5, 5).select("x").collect().map(_.getInt(0)).toSeq == Seq(500))
  }

  test("MoR: minor compaction preserves per-row seqs — interleaved append rows stay visible") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "fold_seq", schema, Seq("id"),
      properties = Map("write.mor.compact-after-upserts" -> "0"))
    t.merge(rows((99, "x", "c", 1L)))   // v1 — base (min seq, never folded)
    t.merge(rows((1, "m2", "u", 2L)))   // v2 — trickle upsert of key 1
    t.append(rows((1, "a3", "c", 3L)))  // v3 — data group, SAME key, later seq
    t.merge(rows((2, "b", "c", 4L)))    // v4 — trickle upsert
    def visible = t.read().select("id", "name").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    val before = visible
    assert(before == Set((99, "x"), (1, "m2"), (1, "a3"), (2, "b")), before.toString)
    val (nBefore, nAfter) = t.compactMinor()
    assert(nBefore == 2 && nAfter == 1)
    // re-stamping the folded key-1 row at maxSeq=4 would wrongly hide the
    // appended (1,"a3") row at seq 3 — the fold must not change the view
    assert(visible == before, s"minor compaction changed the visible state: $visible")
  }

  test("ORC write format: MoR merge/read/time-travel work under write.format-default=orc") {
    // the reference's config matrix covers ORC explicitly
    // (TEST/IcebergChangeConsumerTest.java:549-559)
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "orc_t", schema, Seq("id"),
      properties = Map("write.format-default" -> "orc"))
    t.merge(rows((1, "a", "c", 1L), (2, "b", "c", 1L)))
    val v1 = t.meta.currentVersion
    t.merge(rows((1, "a2", "u", 2L), (2, null, "d", 2L)), CdcApply.UpsertConfig(keepDeletes = false))
    val out = t.read().select("id", "name").collect().map(r => (r.getInt(0), r.getString(1)))
    assert(out.toSeq == Seq((1, "a2")))
    assert(t.readVersion(v1).count() == 2)
    val files = new java.io.File(s"$wh/orc_t/files").listFiles().flatMap(_.listFiles())
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(files.nonEmpty && files.forall(_.getName.endsWith(".orc")),
      files.map(_.getName).mkString(","))
    // partitioned ORC append + pruning-capable layout
    val p = ManagedTable.create(spark, wh, "orc_part", schema, Seq("id"),
      partitionBy = Seq("bucket(4,id)"),
      properties = Map("write.format-default" -> "orc"))
    p.append(rows((1, "a", "c", 1L), (2, "b", "c", 1L), (3, "c", "c", 1L)))
    assert(p.read().count() == 3)
  }

  test("an unreadable protected manifest vetoes commit GC instead of retiring live groups") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "gcveto", schema, Seq("id"),
      properties = Map("write.versions-retained" -> "2",
        "commit.lock-grace-ms" -> "1"))
    t.append(rows((1, "a", "c", 1L)))
    t.append(rows((2, "b", "c", 2L)))
    t.append(rows((3, "c", "c", 3L)))
    val mdir = new java.io.File(s"$wh/gcveto/manifests")
    val fdir = new java.io.File(s"$wh/gcveto/files")
    val groupsBefore = fdir.listFiles().map(_.getName).toSet
    val manifestsBefore = mdir.listFiles().map(_.getName).filter(_.endsWith(".json")).toSet
    // corrupt a PROTECTED (in-window, non-current) manifest: the retained
    // set can no longer be computed, so the commit must do NOTHING
    // destructive — a failed read treated as "empty" would let the diff
    // classify that version's groups as expired
    val protectedV = t.meta.currentVersion - 1
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$wh/gcveto/manifests/v=$protectedV.json"),
      "{corrupt")
    Thread.sleep(5)
    // fresh handle: the writing handle's manifest cache still holds the
    // good entries and would (correctly) proceed — the hazard is a
    // handle that must READ the corrupted file. The GC fails LOUDLY
    // (Manifest.read throws on unreadable-but-present) strictly before
    // any deletion: a failed read silently treated as "no entries" would
    // classify that version's live groups as expired.
    val t2 = ManagedTable.load(spark, wh, "gcveto").get
    intercept[Exception](t2.append(rows((4, "d", "c", 4L))))
    assert(fdir.listFiles().map(_.getName).toSet.intersect(groupsBefore) == groupsBefore,
      "GC must not retire any group when a protected manifest is unreadable")
    assert(mdir.listFiles().map(_.getName).filter(_.endsWith(".json")).toSet
      .intersect(manifestsBefore) == manifestsBefore,
      "GC must not expire any manifest when a protected manifest is unreadable")
  }

  test("snapshot tags: pinned version survives GC past retention; dropTag releases it") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "tagged", schema, Seq("id"),
      properties = Map("write.versions-retained" -> "1",
        "write.mor.compact-after-upserts" -> "0"))
    t.merge(rows((1, "a", "c", 1L)))
    val v1 = t.meta.currentVersion
    t.tag("baseline")
    assert(t.tags() == Map("baseline" -> v1))
    // push v1 well outside the retention window, through a full compact
    // (which rewrites the live data files the pinned manifest references)
    t.merge(rows((2, "b", "c", 2L)))
    t.merge(rows((1, "a2", "u", 3L)))
    t.compact()
    t.merge(rows((3, "c", "c", 4L)))
    // untagged out-of-window versions are expired...
    intercept[IllegalArgumentException](t.readVersion(v1 + 1))
    // ...but the tagged snapshot still reads its original content
    val pinned = t.readTag("baseline").select("id", "name").collect()
      .map(r => (r.getInt(0), r.getString(1)))
    assert(pinned.toSeq == Seq((1, "a")))
    // tags are table metadata, not handle state: a fresh load sees them
    val re = ManagedTable.load(spark, wh, "tagged").get
    assert(re.tags() == Map("baseline" -> v1))
    assert(re.readTag("baseline").count() == 1)
    // dropTag + the next commit sweeps the pinned manifest and its groups
    t.dropTag("baseline")
    t.merge(rows((4, "d", "c", 5L)))
    intercept[IllegalArgumentException](t.readVersion(v1))
    intercept[IllegalArgumentException](t.readTag("baseline"))
    // tagging an expired version is refused up front
    intercept[IllegalArgumentException](t.tag("gone", v1))
    assert(t.read().count() == 4)
  }

  test("fastRowCount: metadata-only when exact, None when deletes could hide rows") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "frc", schema, Seq("id"))
    assert(t.fastRowCount.contains(0L))
    t.append(rows((1, "a", "c", 1L), (2, "b", "c", 1L)))
    t.append(rows((3, "c", "c", 2L)))
    assert(t.fastRowCount.contains(3L))
    assert(t.rowCount() == 3L)
    // an upsert commit carries equality-delete scope → manifest can no
    // longer answer exactly; the scan fallback still can
    t.merge(rows((2, "b2", "u", 3L), (4, "d", "c", 3L)))
    assert(t.fastRowCount.isEmpty)
    assert(t.rowCount() == 4L)
    assert(t.rowCount() == t.read().count())
    // full compaction folds everything back to plain data groups:
    // metadata-only again, and it agrees with the scan
    t.compact()
    assert(t.fastRowCount.contains(4L))
    assert(t.rowCount() == t.read().count())

    // partitioned tables: per-partition groups sum the same way
    val pschema = StructType(schema.fields :+ StructField("day", StringType))
    val pt = ManagedTable.create(spark, wh, "frcp", pschema, Seq("id"),
      partitionBy = Seq("day"))
    pt.append(rows((1, "a", "c", 1L), (2, "b", "c", 1L))
      .withColumn("day", when(col("id") === 1, "d1").otherwise("d2")))
    assert(pt.fastRowCount.contains(2L))
  }

  test("WAP branch: stage is invisible, audit sees would-be table, publish is atomic, abandon frees") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "wap", schema, Seq("id"))
    t.append(rows((1, "a", "c", 1L)))

    // stage: live table unchanged, audit view = live + staged
    t.stageAppend(rows((2, "b", "c", 2L), (3, "c", "c", 2L)), "audit1")
    assert(t.branches() == Seq("audit1"))
    assert(t.read().count() == 1)
    assert(t.readBranch("audit1").count() == 3)

    // staged groups survive an unrelated commit's GC sweep
    t.append(rows((10, "j", "c", 3L)))
    assert(t.readBranch("audit1").count() == 4)

    // publish: atomic fold, rows visible, branch gone; nothing rewritten
    val vBefore = t.meta.currentVersion
    t.publishBranch("audit1")
    assert(t.meta.currentVersion == vBefore + 1)
    assert(t.read().count() == 4)
    assert(t.branches().isEmpty)
    // changelog shows the published rows at the publish version — and the
    // PER-ROW seq matches the commit version even though a commit
    // intervened between stage and publish (the re-stamp path)
    val changes = t.readChangesBetween(vBefore, t.meta.currentVersion)
    assert(changes.select("id").collect().map(_.getInt(0)).toSet == Set(2, 3))
    assert(changes.select(ManagedTable.SeqCol).collect()
      .forall(_.getLong(0) == t.meta.currentVersion),
      "published rows must carry the publish version as their per-row seq")

    // abandon: staged rows never land and their groups are swept
    t.stageAppend(rows((9, "z", "c", 9L)), "bad")
    assert(t.readBranch("bad").count() == 5)
    t.abandonBranch("bad")
    assert(t.read().count() == 4)
    assertThrows[IllegalArgumentException] { t.readBranch("bad") }
    t.append(rows((11, "k", "c", 4L))) // next commit GCs the orphaned group
    assert(t.read().count() == 5)

    // reload: a crash-orphaned branch manifest (no property) is swept
    val reloaded = ManagedTable.load(spark, wh, "wap").get
    assert(reloaded.branches().isEmpty)
    assert(reloaded.read().count() == 5)
  }

  test("abandonBranch defers a staged group dir younger than the commit-lease grace") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "youngb", schema, Seq("id"))
    t.append(rows((1, "a", "c", 1L)))
    t.stageAppend(rows((2, "b", "c", 2L)), "wip")
    val fs = TableMeta.fs(spark.sparkContext.hadoopConfiguration, wh)
    val branchManifest = fs.listStatus(new org.apache.hadoop.fs.Path(s"$wh/youngb/manifests"))
      .map(_.getPath).filter(_.getName.startsWith("branch=wip")).head
    val staged = Manifest.read(fs, branchManifest).get
      .map(e => new org.apache.hadoop.fs.Path(s"$wh/youngb", e.path))
    assert(staged.nonEmpty && staged.forall(fs.exists))
    // default grace (5 minutes): the just-written dirs could be a
    // concurrent writer's, so abandoning the branch must not delete them
    t.abandonBranch("wip")
    assert(staged.forall(fs.exists), "a staged dir younger than the grace was deleted")
    assert(t.read().count() == 1)
    // the deferred dirs are retried by this handle's next commit, which
    // retires them once they are older than the grace
    t.setProperties(Map("commit.lock-grace-ms" -> "0"))
    t.append(rows((3, "c", "c", 3L)))
    assert(!staged.exists(fs.exists), "deferred staged dirs must be retired later")
    assert(t.read().count() == 2)
  }

  test("branch accumulation: createBranch + stageAppendInto generations, reload, debris swept") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "wacc", schema, Seq("id"))
    t.append(rows((1, "a", "c", 1L)))
    // empty branch: stageable, publish of nothing is a free no-op
    t.createBranch("empty")
    assert(t.branches() == Seq("empty"))
    val vE = t.meta.currentVersion
    t.publishBranch("empty")
    assert(t.meta.currentVersion == vE && t.branches().isEmpty,
      "publishing a never-staged branch must not burn a version")
    // accumulate three batches (base generation + two flips), with a live
    // commit in between — every generation's rows survive into the audit
    t.createBranch("acc")
    t.stageAppendInto(rows((2, "b", "c", 2L)), "acc")
    t.append(rows((10, "j", "c", 3L)))
    t.stageAppendInto(rows((3, "c", "c", 3L), (4, "d", "c", 3L)), "acc")
    assert(t.read().count() == 2)
    assert(t.readBranch("acc").count() == 5)
    // a reload resolves the current generation from the property
    val re = ManagedTable.load(spark, wh, "wacc").get
    assert(re.readBranch("acc").count() == 5)
    re.publishBranch("acc")
    assert(re.read().count() == 5)
    assert(re.read().select("id").collect().map(_.getInt(0)).toSet ==
      Set(1, 2, 3, 4, 10))
    // superseded generation files are debris: none left referenced, and a
    // zero-grace reload sweeps every branch manifest file
    re.setProperties(Map("commit.lock-grace-ms" -> "0"))
    val re2 = ManagedTable.load(spark, wh, "wacc").get
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val left = fs.listStatus(new org.apache.hadoop.fs.Path(s"$wh/wacc/manifests"))
      .map(_.getPath.getName).filter(_.startsWith("branch="))
    assert(left.isEmpty, s"superseded branch generations must be swept: ${left.mkString(",")}")
    assert(re2.read().count() == 5)
    // stageAppendInto on an absent branch creates it (the wap.branch shape)
    re2.stageAppendInto(rows((7, "g", "c", 7L)), "fresh")
    assert(re2.branches() == Seq("fresh") && re2.readBranch("fresh").count() == 6)
    // refs metadata parses the generation-tagged property value
    re2.stageAppendInto(rows((8, "h", "c", 8L)), "fresh")
    val refRow = re2.refsMetadata().filter(col("name") === "fresh").collect()
    assert(refRow.length == 1 && refRow.head.getString(1) == "branch" &&
      refRow.head.getLong(2) > 0, refRow.toSeq.toString)
    // a missing current-generation manifest is corruption, never "empty"
    val cur = fs.listStatus(new org.apache.hadoop.fs.Path(s"$wh/wacc/manifests"))
      .map(_.getPath).filter(_.getName.startsWith("branch=fresh@")).head
    fs.delete(cur, false)
    val eCorrupt = intercept[IllegalStateException] {
      ManagedTable.load(spark, wh, "wacc").get
        .stageAppendInto(rows((9, "i", "c", 9L)), "fresh")
    }
    assert(eCorrupt.getMessage.contains("corrupted"), eCorrupt.getMessage)
    ManagedTable.load(spark, wh, "wacc").get.abandonBranch("fresh")
  }

  test("expireSnapshots: age-based expiry keeps current + tagged, sweeps unreferenced groups") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "exp", schema, Seq("id"),
      properties = Map("write.versions-retained" -> "10"))
    t.append(rows((1, "a", "c", 1L)))
    val v1 = t.meta.currentVersion
    Thread.sleep(5)
    t.append(rows((2, "b", "c", 2L)))
    t.tag("keep", t.meta.currentVersion)
    val vTagged = t.meta.currentVersion
    Thread.sleep(5)
    t.overwrite(rows((3, "c", "c", 3L))) // orphans v1/v2's groups from the live view
    val cutoff = System.currentTimeMillis()
    Thread.sleep(5)
    t.append(rows((4, "d", "c", 4L)))

    val expired = t.expireSnapshots(cutoff)
    assert(expired >= 1)
    // v1 is gone; the tagged version and current survive
    assertThrows[IllegalArgumentException] { t.readVersion(v1) }
    assert(t.readTag("keep").count() == 2)
    assert(t.readVersion(vTagged).count() == 2)
    assert(t.read().count() == 2) // {3, 4}
    // time travel to expired instants now refuses
    assertThrows[IllegalArgumentException] { t.readAsOf(0L) }
  }

  test("readChangeStream: commits arrive as micro-batches with seq + tombstone") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "follow", schema, Seq("id"))
    t.append(rows((1, "a", "c", 1L)))
    val got = scala.collection.mutable.ArrayBuffer[(Int, String, Long, Boolean)]()
    val q = t.readChangeStream().writeStream
      .outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got.synchronized {
          got ++= df.select(col("id"), col("name"),
            col(ManagedTable.SeqCol), col(ManagedTable.TombstoneCol))
            .collect()
            .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getBoolean(3)))
        }
        ()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("follow-ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      assert(got.synchronized(got.toSet) == Set((1, "a", 1L, false)))
      // an upsert with a hard delete: winners + tombstone stream through
      t.merge(rows((2, "b", "c", 2L), (1, "x", "d", 2L)),
        graft.cdc.CdcApply.UpsertConfig(dedupColumn = "__source_ts_ns",
          keepDeletes = false))
      q.processAllAvailable()
      val after = got.synchronized(got.toSet)
      assert(after.contains((2, "b", 2L, false)), s"missing insert: $after")
      assert(after.exists { case (id, _, seq, tomb) => id == 1 && seq == 2L && tomb },
        s"missing tombstone: $after")
      // followers see exactly the committed row versions (no phantoms here)
      assert(after.size == 3)
    } finally q.stop()
  }

  test("renameColumn: old files readable under the new name, chains, no rewrite") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "rn", schema, Seq("id"))
    t.append(rows((1, "alice", "c", 1L)))
    val filesBefore = t.read().inputFiles.toSet
    t.renameColumn("name", "full_name")
    assert(t.meta.schema.fieldNames.contains("full_name"))
    // pre-rename file reads under the new name; nothing rewritten
    assert(t.read().select("full_name").collect().map(_.getString(0)).toSeq == Seq("alice"))
    assert(t.read().inputFiles.toSet == filesBefore)
    // post-rename writes mix with pre-rename files transparently
    t.merge(Seq((2, "bob", "c", 2L)).toDF("id", "full_name", "__op", "__source_ts_ns"),
      graft.cdc.CdcApply.UpsertConfig(dedupColumn = "__source_ts_ns"))
    assert(t.read().select("full_name").collect().map(_.getString(0)).toSet ==
      Set("alice", "bob"))
    // chain: rename again; both generations of files still readable
    t.renameColumn("full_name", "display_name")
    assert(t.read().select("display_name").collect().map(_.getString(0)).toSet ==
      Set("alice", "bob"))
    // compaction materializes the current name and drops the lineage need
    t.compact()
    assert(t.read().select("display_name").collect().map(_.getString(0)).toSet ==
      Set("alice", "bob"))
    // immutable columns refuse
    assertThrows[IllegalArgumentException] { t.renameColumn("id", "id2") }
    assertThrows[IllegalArgumentException] { t.renameColumn("missing", "x") }
    // reload from disk keeps the lineage
    val r = ManagedTable.load(spark, wh, "rn").get
    assert(r.read().select("display_name").count() == 2)
  }

  test("dropColumn hides data; re-adding a dropped name is refused (stale resurface)") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "dc", schema, Seq("id"))
    t.append(rows((1, "secret", "c", 1L)))
    t.dropColumn("name")
    assert(!t.read().columns.contains("name"))
    assertThrows[IllegalArgumentException] {
      t.addColumn(StructField("name", StringType))
    }
    // fresh names are fine; reuse is allowed only by explicit opt-in
    t.addColumn(StructField("label", StringType))
    t.setProperties(Map("schema.allow-reused-names" -> "true"))
    t.addColumn(StructField("name", StringType))
    // ...and then the stale value DOES resurface — exactly the documented hazard
    assert(t.read().select("name").collect().head.getString(0) == "secret")
    assertThrows[IllegalArgumentException] { t.dropColumn("id") }

    // dropping a RENAMED column marks its whole lineage dropped: re-adding
    // a pre-rename name is refused too (its values live in old files)
    val t2 = ManagedTable.create(spark, tmpWarehouse(), "dc2", schema, Seq("id"))
    t2.append(rows((1, "sec2", "c", 1L)))
    t2.renameColumn("name", "title")
    t2.dropColumn("title")
    assertThrows[IllegalArgumentException] { t2.addColumn(StructField("name", StringType)) }
    assertThrows[IllegalArgumentException] { t2.addColumn(StructField("title", StringType)) }
    // renaming ONTO lineage or a derived partition column is refused
    val pschema = StructType(schema.fields :+ StructField("ts", LongType))
    val t3 = ManagedTable.create(spark, tmpWarehouse(), "dc3", pschema, Seq("id"),
      partitionBy = Seq("day(ts)"))
    assertThrows[IllegalArgumentException] { t3.renameColumn("name", "ts_day") }
    assertThrows[IllegalArgumentException] { t3.addColumn(StructField("ts_day", StringType)) }
    t3.renameColumn("name", "label")
    assertThrows[IllegalArgumentException] { t3.renameColumn("__op", "name") }
  }

  test("addColumn with initial default: pre-add rows read it, post-add nulls stay null") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "ad", schema, Seq("id"))
    t.append(rows((1, "a", "c", 1L)))
    t.addColumn(StructField("score", IntegerType), default = Some("7"))
    // pre-add row sees the default
    assert(t.read().select("score").collect().head.getInt(0) == 7)
    // a post-add row with an explicit null KEEPS the null
    val withScore = Seq((2, "b", "c", 2L, null.asInstanceOf[Integer]))
      .toDF("id", "name", "__op", "__source_ts_ns", "score")
    t.append(withScore)
    val got = t.read().select("id", "score").collect()
      .map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(got(1).contains(7))
    assert(got(2).isEmpty, s"post-add explicit null was defaulted: $got")
    // compaction materializes the default for pre-add rows, result unchanged
    t.compact()
    val got2 = t.read().select("id", "score").collect()
      .map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(got2 == got)
  }

  test("metadata tables: files / snapshots / refs answer from manifests only") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "md", schema, Seq("id"),
      properties = Map("write.versions-retained" -> "5"))
    t.append(rows((1, "a", "c", 1L)))
    t.merge(rows((2, "b", "u", 2L)))
    t.tag("pin")
    t.stageAppend(rows((3, "c", "c", 3L)), "wip")

    val files = t.filesMetadata().collect()
    assert(files.length == 2) // one data group, one upsert group (branch excluded)
    assert(files.map(_.getString(1)).toSet == Set("data", "upsert"))
    assert(files.forall(r => !r.isNullAt(3) && r.getLong(3) == 1L)) // row counts recorded
    val snaps = t.snapshotsMetadata().collect()
    assert(snaps.map(_.getLong(0)).toSet == Set(0L, 1L, 2L))
    assert(snaps.count(_.getBoolean(2)) == 1)
    val refs = t.refsMetadata().collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(refs == Set(("pin", "tag", 2L), ("wip", "branch", 3L)))
    t.abandonBranch("wip")
    assert(t.refsMetadata().where(col("type") === "branch").count() == 0)
  }

  test("retention counts COMMITS, not version numbers, across an adopt-in-place publish jump") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "retj", schema, Seq.empty,
      properties = Map("write.versions-retained" -> "3"))
    t.append(rows((1, "a", "c", 1L)))  // v1
    t.append(rows((2, "b", "c", 2L)))  // v2
    t.append(rows((3, "c", "c", 3L)))  // v3
    // a 3-batch branch published in place: ONE commit, pointer jumps 3→6
    t.stageAppendInto(rows((4, "d", "c", 4L)), "wap")
    t.stageAppendInto(rows((5, "e", "c", 5L)), "wap")
    t.stageAppendInto(rows((6, "f", "c", 6L)), "wap")
    t.publishBranch("wap")
    assert(t.meta.currentVersion == 6L, "adopt-in-place must jump the pointer")
    // the publish itself expired exactly ONE window slot (v1..v3 were the
    // 3 priors; the window keeps all of them)
    assert(t.manifestRetained(1L) && t.manifestRetained(2L) && t.manifestRetained(3L))
    // the NEXT commit's window must count the 3 retained PRIOR COMMITS
    // {2,3,6}, not version numbers 4..6 — versions 4,5 never existed as
    // commits and must not consume retention slots
    t.append(rows((7, "g", "c", 7L)))  // v7
    assert(t.manifestRetained(2L) && t.manifestRetained(3L) && t.manifestRetained(6L),
      "the skipped version numbers of a publish jump must not shrink the retained-commit window")
    assert(!t.manifestRetained(1L), "the window still slides by one per commit")
    // and time travel to the oldest retained commit still reads
    assert(t.readVersion(2L).count() == 2)
  }

  test("load-time sweep: stray manifest names are ignored; a live commit claim protects ahead-of-pointer manifests") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "swp", schema, Seq.empty,
      properties = Map("commit.lock-grace-ms" -> "1"))
    t.append(rows((1, "a", "c", 1L)))  // v1
    val mdir = new java.io.File(s"$wh/swp/manifests")
    // a stray non-numeric v=*.json must not make every load throw
    val stray = new java.io.File(mdir, "v=garbage.json")
    java.nio.file.Files.write(stray.toPath, "junk".getBytes)
    val re = ManagedTable.load(spark, wh, "swp").get
    assert(re.read().count() == 1)
    assert(re.versions().map(_._1) == Seq(0L, 1L), "versions() must skip the stray name")
    // a manifest AHEAD of the pointer with a LIVE claim at currentVersion+1
    // is an in-flight commit (possibly stalled past the grace) — a reader's
    // load-time sweep must not delete it even though its age exceeds grace
    val ahead = new java.io.File(mdir, "v=9.json")
    java.nio.file.Files.copy(new java.io.File(mdir, "v=1.json").toPath, ahead.toPath)
    val claim = new java.io.File(mdir, "v=2.lock")
    java.nio.file.Files.write(claim.toPath, "someone-elses-token".getBytes)
    ahead.setLastModified(System.currentTimeMillis() - 60000)
    Thread.sleep(5) // grace is 1ms — age alone would sweep it
    ManagedTable.load(spark, wh, "swp").get.read().count()
    assert(ahead.exists(), "a live claim must protect the in-flight manifest from the sweep")
    // claim released (crash cleanup / lease break): the debris now goes
    claim.delete()
    ManagedTable.load(spark, wh, "swp").get.read().count()
    assert(!ahead.exists(), "without a live claim, aged ahead-of-pointer debris is swept")
    t.append(rows((2, "b", "c", 2L))) // the stray never breaks commits either
    assert(ManagedTable.load(spark, wh, "swp").get.read().count() == 2)
  }

  test("int->long promotion during evolution keeps old data readable") {
    val wh = tmpWarehouse()
    val t = ManagedTable.create(spark, wh, "promo",
      StructType(Seq(StructField("id", IntegerType, false), StructField("v", IntegerType),
        StructField("__op", StringType), StructField("__source_ts_ns", LongType))), Seq("id"))
    t.merge(Seq((1, 5, "c", 1L)).toDF("id", "v", "__op", "__source_ts_ns"))
    t.evolve(StructType(Seq(StructField("v", LongType))))
    assert(t.meta.schema("v").dataType == LongType)
    assert(t.read().select("v").as[Long].collect().toSeq == Seq(5L))
  }
}
