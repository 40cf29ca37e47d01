package graft.sources

import java.nio.file.Files

import graft.SharedSpark
import graft.tables.ManagedTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The size a `format("graft-table")` read reports (the planned
  * [[graft.catalog.GraftScan]]'s served file bytes) reaching Spark's
  * broadcast-side selection: a small graft dimension table joins as the
  * broadcast side instead of forcing a sort-merge.
  */
class V1SizeInBytesSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", IntegerType, nullable = false),
    StructField("label", StringType)))

  test("small table reports its real bytes and broadcasts in a join") {
    val wh = Files.createTempDirectory("graft-wh").toString
    val t = ManagedTable.create(spark, wh, "dim", schema)
    t.append((1 to 100).map(i => (i, s"label$i")).toDF("k", "label"))
    val rel = spark.read.format("graft-table")
      .option("warehouse", wh).option("table", "dim").load()
    val size = rel.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size > 0 && size < 10L * 1024 * 1024,
      s"manifest-summed size should be the real few KB, got $size")
    val fact = spark.range(0, 50000)
      .select((col("id") % 100 + 1).cast(IntegerType).as("k"), col("id").as("v"))
    val joined = fact.join(rel, "k")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"small graft dim must be broadcast:\n$plan")
    assert(joined.count() == 50000)
  }

  test("pre-upgrade manifests (no file sizes) keep the conservative default") {
    val wh = Files.createTempDirectory("graft-wh").toString
    val t = ManagedTable.create(spark, wh, "nofiles", schema)
    t.append(Seq((1, "a")).toDF("k", "label"))
    // strip the file lists like a pre-upgrade manifest
    val entries = t.v2SnapshotEntries.map(_.copy(files = Seq.empty))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val mp = new org.apache.hadoop.fs.Path(
      s"$wh/nofiles/manifests/v=${t.meta.currentVersion}.json")
    fs.delete(mp, false) // manifests are write-once; replace out-of-band
    graft.tables.Manifest.write(fs, mp, entries)
    val rel = spark.read.format("graft-table")
      .option("warehouse", wh).option("table", "nofiles").load()
    val size = rel.queryExecution.optimizedPlan.stats.sizeInBytes
    // the scan lists the group dirs whose entries carry no file list, so
    // the size is the listed bytes: it is never unknown
    val listed = entries.filterNot(_.kind == graft.tables.Manifest.PosDel)
      .flatMap(e => fs.listStatus(new org.apache.hadoop.fs.Path(t.v2TableDir, e.path)).toSeq)
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    assert(listed > 0 && size == listed,
      s"pre-upgrade manifests must report the listed bytes $listed, got $size")
  }
}
