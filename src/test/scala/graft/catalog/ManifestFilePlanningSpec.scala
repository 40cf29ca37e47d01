package graft.catalog

import java.net.URI

import graft.SharedSpark
import graft.tables.{ManagedTable, Manifest}
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** A local filesystem under a dedicated scheme that COUNTS listStatus
  * calls on GROUP directories (`…/files/…`) — the O(live groups) LIST
  * fan-out that manifest-carried file lists eliminate. Table loads keep
  * their O(1) metadata listings (manifests dir, orphan-staging sweep);
  * those don't scale with data and are not what the contract bounds.
  */
class CountingFs extends RawLocalFileSystem {
  override def getScheme: String = "graftcnt"
  override def getUri: URI = URI.create("graftcnt:///")
  override def listStatus(f: Path): Array[FileStatus] = {
    if (f.toString.contains("/files/")) {
      CountingFs.groupListings.incrementAndGet()
      CountingFs.listed.add(f.toString)
    }
    // the files/ dir itself: the O(live groups) listing the round-12
    // manifest-diff commit GC must never issue
    if (f.getName == "files") {
      CountingFs.filesDirListings.incrementAndGet()
      CountingFs.listed.add(f.toString)
    }
    super.listStatus(f)
  }
}

object CountingFs {
  val groupListings = new java.util.concurrent.atomic.AtomicInteger(0)
  val filesDirListings = new java.util.concurrent.atomic.AtomicInteger(0)
  val listed = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
  def reset(): Unit = { groupListings.set(0); filesDirListings.set(0); listed.clear() }
}

/** Round 11: manifest-carried file lists. Commits stamp each group's file
  * names + sizes into its manifest entry, and [[GraftScan]] plans splits
  * from the manifest alone — this spec pins the contract with a counting
  * filesystem: ZERO group-dir listStatus calls on the V2 planning+read path, on
  * plain scans AND runtime-filter re-plans, while a manifest stripped of
  * its file lists (the pre-upgrade shape) still reads identically through
  * the listing fallback.
  */
class ManifestFilePlanningSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  spark.sparkContext.hadoopConfiguration
    .setClass("fs.graftcnt.impl", classOf[CountingFs], classOf[org.apache.hadoop.fs.FileSystem])

  private def registerCatalog(wh: String): String = {
    val cat = s"gcnt_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    cat
  }

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("g", StringType, nullable = false),
    StructField("v", DoubleType)))

  private def freshTable(): (String, String, ManagedTable) = {
    val local = java.nio.file.Files.createTempDirectory("graft-cntwh").toString
    val wh = s"graftcnt://$local"
    val t = ManagedTable.create(spark, wh, "t", schema, Seq("id"), Seq("g"))
    t.append((1 to 60).map(i => (i, s"g${i % 3}", i * 1.0)).toDF("id", "g", "v"))
    // a trickle upsert commit so the scan resolves MoR state too
    t.applyNetChanges((1 to 10).map(i => (i, s"g${i % 3}", -i * 1.0))
      .toDF("id", "g", "v").withColumn("__tomb", lit(false)), "__tomb")
    (local, wh, t)
  }

  private def canon(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  test("V2 scan plans with ZERO filesystem listings (incl. runtime-filter re-plan)") {
    val (_, wh, _) = freshTable()
    val cat = registerCatalog(wh)
    // warm nothing: fresh loadTable below plans from cold manifest state
    CountingFs.reset()
    val full = canon(spark.sql(s"SELECT id, g, v FROM $cat.t"))
    assert(full.size == 60)
    // a join that installs runtime filters on the partition source → the
    // scan re-plans; still zero listings
    Seq("g1").toDF("g").createOrReplaceTempView("cnt_dim")
    val joined = spark.sql(
      s"SELECT t.id FROM $cat.t t JOIN cnt_dim d ON t.g = d.g").count()
    assert(joined == 20)
    assert(CountingFs.groupListings.get() == 0,
      s"planning/read must not list — saw: ${CountingFs.listed}")
  }

  test("commit hot path issues ZERO files/ listings; manifest-diff GC still retires expired groups") {
    val local = java.nio.file.Files.createTempDirectory("graft-cntwh2").toString
    val wh = s"graftcnt://$local"
    val t = ManagedTable.create(spark, wh, "gc", schema, Seq("id"), Seq.empty,
      properties = Map("write.versions-retained" -> "1",
        "commit.lock-grace-ms" -> "1"))
    CountingFs.reset()
    t.append((1 to 10).map(i => (i, "a", i * 1.0)).toDF("id", "g", "v"))
    val v1Groups = new java.io.File(s"$local/gc/files").listFiles().map(_.getName).toSet
    Thread.sleep(5) // past the 1 ms grace
    t.overwrite((11 to 20).map(i => (i, "b", i * 1.0)).toDF("id", "g", "v"))
    Thread.sleep(5)
    t.overwrite((21 to 30).map(i => (i, "c", i * 1.0)).toDF("id", "g", "v"))
    // v1's groups left the retention window at the third commit: the
    // manifest diff must have retired them without ever listing files/
    val now = new java.io.File(s"$local/gc/files").listFiles().map(_.getName).toSet
    assert(v1Groups.intersect(now).isEmpty,
      s"expired groups must be retired by the manifest diff: kept ${v1Groups.intersect(now)}")
    assert(t.read().count() == 10)
    assert(CountingFs.filesDirListings.get() == 0,
      s"commit path must not list files/ — saw: ${CountingFs.listed}")
  }

  test("pre-upgrade manifests (no file lists) fall back to listing, same rows") {
    val (local, wh, t) = freshTable()
    val cat = registerCatalog(wh)
    val expected = canon(spark.sql(s"SELECT id, g, v FROM $cat.t"))
    // strip the file lists from the CURRENT manifest in place — the exact
    // on-disk shape a pre-upgrade writer produced
    val fs = new Path(wh).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifests = new Path(s"$wh/t/manifests")
    val current = fs.listStatus(manifests).map(_.getPath)
      .filter(_.getName.matches("v=\\d+\\.json"))
      .maxBy(_.getName.stripPrefix("v=").stripSuffix(".json").toLong)
    val stripped = Manifest.read(fs, current).get.map(_.copy(files = Seq.empty))
    fs.delete(current, false)
    Manifest.write(fs, current, stripped)
    val re = ManagedTable.load(spark, wh, "t").get // fresh handle, re-reads manifest
    assert(re.v2SnapshotEntries.forall(_.files.isEmpty),
      "manifest must carry no file lists after the strip")
    CountingFs.reset()
    val cat2 = registerCatalog(wh)
    assert(canon(spark.sql(s"SELECT id, g, v FROM $cat2.t")) == expected)
    assert(CountingFs.groupListings.get() > 0, "fallback must have listed the groups")
  }

  test("a filtered read builds only the readers its splits open") {
    val wh = java.nio.file.Files.createTempDirectory("graft-readers").toString
    val t = ManagedTable.create(spark, wh, "rb", schema, Seq("id"),
      properties = Map("write.mor.posdel-on-commit" -> "always"))
    t.append((1 to 40).map(i => (i, s"g${i % 3}", i * 1.0)).toDF("id", "g", "v"))
    t.append((41 to 80).map(i => (i, s"g${i % 3}", i * 1.0)).toDF("id", "g", "v"))
    def filtered = spark.read.format("graft-table").option("warehouse", wh)
      .option("table", "rb").load().where(col("v") > 30.0)
    def factory(df: DataFrame): GraftReaderFactory =
      df.queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.readerFactory
      }.get.asInstanceOf[GraftReaderFactory]
    // keyed and delete-free: only the filtered data reader
    val f = factory(filtered)
    assert(f.dataReaderFiltered != null && f.dataReader == null &&
      f.delReader == null && f.posdelReader == null)
    assert(canon(filtered) == canon(t.read().where(col("v") > 30.0)))
    // an upsert brings the delete reader, its posdel sidecar the
    // unfiltered data and posdel readers
    ManagedTable.load(spark, wh, "rb").get
      .mergeInto(Seq((5, "g2", 99.0)).toDF("id", "g", "v"))
    val m = factory(filtered)
    assert(m.delReader != null && m.posdelReader != null && m.dataReader != null)
    assert(canon(filtered) ==
      canon(ManagedTable.load(spark, wh, "rb").get.read().where(col("v") > 30.0)))
  }

  test("a reader build's conf round-trips every key without its source names") {
    import scala.jdk.CollectionConverters._
    val base = spark.sessionState.newHadoopConf()
    base.set("graft.test.reader-conf", "x=1,y=2")
    def entries(c: org.apache.hadoop.conf.Configuration): Map[String, String] =
      c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
    def roundTrip(c: org.apache.hadoop.conf.Configuration): (Int, org.apache.hadoop.conf.Configuration) = {
      val bytes = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bytes)
      out.writeObject(new org.apache.spark.util.SerializableConfiguration(c))
      out.close()
      val in = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes.toByteArray))
      (bytes.size, in.readObject().asInstanceOf[org.apache.spark.util.SerializableConfiguration].value)
    }
    val (plainSize, plain) = roundTrip(base)
    val (leanSize, lean) = roundTrip(new GraftScan.ReaderConf(base))
    assert(entries(lean) == entries(base))
    assert(entries(lean) == entries(plain))
    // the source names are what it leaves out: at least one byte a key
    assert(leanSize + entries(base).size <= plainSize)
  }
}
