package graft.catalog

import java.nio.file.Files

import graft.SharedSpark
import graft.tables.ManagedTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Write-path parity chaos: ONE random op stream applied twice — through
  * the V2 catalog's SQL verbs (DataFrameWriterV2 append / overwrite(cond),
  * DELETE FROM, TRUNCATE TABLE) on table `pa`, and through the
  * ManagedTable API (append / overwriteWhere / deleteWhere / truncate)
  * on sibling `pb` — must leave
  * IDENTICAL visible states at every checkpoint, read through the
  * catalog, the graft SQL surface and the API. This is the differential
  * net under the round-10 V2 write surface: any drift between the seams' delete translation,
  * truncate semantics, or append commit shape surfaces as a state diff
  * within a few steps.
  */
class V2ParityChaosSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("name", StringType),
    StructField("v", DoubleType)))

  private def batch(rnd: Random, n: Int): DataFrame =
    List.fill(n)((rnd.nextInt(20), s"p${rnd.nextInt(10)}", rnd.nextInt(50).toDouble))
      .toDF("id", "name", "v")

  /** A session with the graft SQL surface over `wh`, on this context. */
  private def graftSession(wh: String): org.apache.spark.sql.SparkSession = {
    import org.apache.spark.sql.SparkSession
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder().master(base.sparkContext.master)
        .withExtensions(new graft.GraftExtensions().apply(_)).getOrCreate()
      s.conf.set("spark.graft.warehouse", wh)
      s
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  private def canon(df: DataFrame): Seq[(Int, String, Double)] =
    df.select("id", "name", "v").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2, t._3)).toSeq

  for (seed <- Seq(11, 42)) {
    test(s"V2 SQL verbs ≡ ManagedTable API under a random op stream (seed $seed)") {
      val rnd = new Random(seed)
      val wh = Files.createTempDirectory(s"graft-v2chaos$seed").toString
      ManagedTable.create(spark, wh, "pa", schema, Seq("id"))
      val pb = ManagedTable.create(spark, wh, "pb", schema, Seq("id"))
      val cat = s"gvp_${java.util.UUID.randomUUID().toString.take(8)}"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)

      val gs = graftSession(wh)
      def check(step: Int): Unit = {
        val viaCat = canon(spark.sql(s"SELECT * FROM $cat.pa"))
        assert(canon(gs.sql("SELECT * FROM graft.pa")) == viaCat,
          s"step $step: graft.pa read != $cat.pa read")
        val viaApiA = canon(ManagedTable.load(spark, wh, "pa").get.read())
        val viaApiB = canon(ManagedTable.load(spark, wh, "pb").get.read())
        assert(viaCat == viaApiB, s"step $step: V2-written state != API-written state")
        assert(viaCat == viaApiA, s"step $step: V2 read != API read of the V2-written table")
      }

      for (step <- 1 to 24) {
        rnd.nextInt(15) match {
          case n if n <= 5 => // append the SAME batch through both seams
            val b = batch(rnd, 1 + rnd.nextInt(8))
            b.writeTo(s"$cat.pa").append()
            pb.append(b)
          case 6 | 7 => // range delete
            val k = rnd.nextInt(20)
            spark.sql(s"DELETE FROM $cat.pa WHERE id < $k")
            pb.deleteWhere(col("id") < k)
          case 8 => // IN-list delete
            val (a, b) = (rnd.nextInt(20), rnd.nextInt(20))
            spark.sql(s"DELETE FROM $cat.pa WHERE id IN ($a, $b)")
            pb.deleteWhere(col("id").isin(a, b))
          case 9 => // prefix delete on a nullable string (null = kept, both sides)
            val d = rnd.nextInt(10)
            spark.sql(s"DELETE FROM $cat.pa WHERE name LIKE 'p$d%'")
            pb.deleteWhere(col("name").startsWith(s"p$d"))
          case 10 => // numeric bound with a conjunction
            val x = rnd.nextInt(50)
            spark.sql(s"DELETE FROM $cat.pa WHERE v >= $x.0 AND id >= ${x % 20}")
            pb.deleteWhere(col("v") >= x.toDouble && col("id") >= x % 20)
          case 11 => // rare whole-table truncate
            spark.sql(s"TRUNCATE TABLE $cat.pa")
            pb.truncate()
          case 12 => // overwrite-by-filter: replace the id < k region with
            // a unique-keyed in-region batch (the replaceWhere contract)
            val k = 1 + rnd.nextInt(20)
            val b = rnd.shuffle((0 until k).toList).take(1 + rnd.nextInt(k))
              .map(i => (i, s"ow${rnd.nextInt(10)}", rnd.nextInt(50).toDouble))
              .toDF("id", "name", "v")
            b.writeTo(s"$cat.pa").overwrite(col("id") < k)
            pb.overwriteWhere(col("id") < k, b)
          case 13 => // native row-level UPDATE (round 11) vs updateWhere
            val k = rnd.nextInt(20)
            spark.sql(s"UPDATE $cat.pa SET v = v + 1.0, name = 'u$k' WHERE id >= $k")
            pb.updateWhere(col("id") >= k,
              Map("v" -> (col("v") + 1.0), "name" -> lit(s"u$k")))
          case 14 => // native MERGE (round 11) vs mergeInto — disjoint
            // matched clauses so clause order cannot matter; unique source
            // keys (the cardinality contract)
            val src = rnd.shuffle((0 until 20).toList).take(1 + rnd.nextInt(10))
              .map(i => (i, s"m${rnd.nextInt(10)}", rnd.nextInt(50).toDouble))
              .toDF("id", "name", "v")
            src.createOrReplaceTempView("v2_chaos_src")
            spark.sql(
              s"""MERGE INTO $cat.pa AS t USING v2_chaos_src AS s ON t.id = s.id
                 |WHEN MATCHED AND s.v < 25.0 THEN UPDATE SET name = s.name, v = s.v
                 |WHEN MATCHED THEN DELETE
                 |WHEN NOT MATCHED THEN INSERT *
                 |""".stripMargin)
            pb.mergeInto(src,
              updateWhen = Some(col("s.v") < 25.0),
              updateSet = Map("name" -> col("s.name"), "v" -> col("s.v")),
              deleteWhen = Some(!(col("s.v") < 25.0)),
              insertWhen = Some(lit(true)))
        }
        if (step % 6 == 0) check(step)
      }
      check(-1)
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }

    test(s"V2 PARTITION verbs ≡ ManagedTable region ops on a partitioned table (seed $seed)") {
      val rnd = new Random(seed * 7)
      val wh = Files.createTempDirectory(s"graft-v2pchaos$seed").toString
      // g non-nullable: the partition source is part of the row-level
      // delta row id, so the UPDATE verb below stays V2-eligible
      val pschema = StructType(Seq(
        StructField("g", StringType, nullable = false),
        StructField("id", IntegerType, nullable = false),
        StructField("v", DoubleType)))
      ManagedTable.create(spark, wh, "qa", pschema, Seq("id"), partitionBy = Seq("g"))
      val qb = ManagedTable.create(spark, wh, "qb", pschema, Seq("id"),
        partitionBy = Seq("g"))
      val cat = s"gvq_${java.util.UUID.randomUUID().toString.take(8)}"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      import org.apache.spark.sql.functions.{col, lit}

      def pbatch(n: Int): DataFrame =
        List.fill(n)((s"g${rnd.nextInt(4)}", rnd.nextInt(40), rnd.nextInt(50).toDouble))
          .toDF("g", "id", "v")
      def pcanon(df: DataFrame): Seq[(String, Int, Double)] =
        df.select("g", "id", "v").collect()
          .map(r => (r.getString(0), r.getInt(1), r.getDouble(2)))
          .sortBy(t => (t._1, t._2, t._3)).toSeq
      def pcheck(step: Int): Unit = {
        val viaCat = pcanon(spark.sql(s"SELECT * FROM $cat.qa"))
        val viaApi = pcanon(ManagedTable.load(spark, wh, "qb").get.read())
        assert(viaCat == viaApi, s"step $step: V2 state != API state")
        // the partition LISTING agrees with the API's live tuple set
        val viaShow = spark.sql(s"SHOW PARTITIONS $cat.qa").collect()
          .map(_.getString(0)).sorted.toSeq
        val viaMeta = ManagedTable.load(spark, wh, "qa").get.filesMetadata()
          .select("partition").collect()
          .map(_.getMap[String, String](0).get("g").map(g => s"g=$g").getOrElse("g=null"))
          .distinct.sorted.toSeq
        assert(viaShow == viaMeta, s"step $step: SHOW PARTITIONS != manifest tuples")
      }

      for (step <- 1 to 18) {
        rnd.nextInt(9) match {
          case n if n <= 4 => // append the SAME batch through both seams
            val b = pbatch(1 + rnd.nextInt(10))
            b.writeTo(s"$cat.qa").append()
            qb.append(b)
          case 5 | 6 => // DROP PARTITION vs the API's region delete
            val g = s"g${rnd.nextInt(4)}"
            val exists = spark.sql(s"SHOW PARTITIONS $cat.qa").collect()
              .exists(_.getString(0) == s"g=$g")
            spark.sql(s"ALTER TABLE $cat.qa DROP IF EXISTS PARTITION (g='$g')")
            if (exists) qb.deleteWhere(col("g") <=> lit(g))
          case 7 => // static-region overwrite through both seams (unique
            // keys in the batch — the keyed replaceWhere contract)
            val g = s"g${rnd.nextInt(4)}"
            val rows = rnd.shuffle((0 until 40).toList).take(1 + rnd.nextInt(4))
              .map(i => (g, i, rnd.nextInt(50).toDouble)).toDF("g", "id", "v")
            rows.writeTo(s"$cat.qa").overwrite(col("g") <=> lit(g))
            qb.overwriteWhere(col("g") <=> lit(g), rows)
          case 8 => // partition-MOVING native UPDATE (round 11): the delta
            // splits into tombstone(old tuple) + insert(new tuple)
            val (from, to, m) = (s"g${rnd.nextInt(4)}", s"g${rnd.nextInt(4)}", rnd.nextInt(5))
            spark.sql(s"UPDATE $cat.qa SET g = '$to' WHERE g = '$from' AND id % 5 = $m")
            qb.updateWhere(col("g") === from && col("id") % 5 === m,
              Map("g" -> lit(to)))
        }
        if (step % 6 == 0) pcheck(step)
      }
      pcheck(-1)
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }
}
