package graft.tables

import graft.SharedSpark
import graft.cdc.CdcApply
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Chaos soak: a long random interleaving of merges, partition-spec
  * evolutions, maintenance tiers (minor fold / posdel / full compact /
  * policy driver), and reloads must ALWAYS leave the visible table state
  * equal to the pure relational CDC fold. This is the differential net
  * under every table feature added this round at once — each operation
  * is either state-preserving (maintenance, reload, evolution) or folds
  * identically on both sides (merge).
  *
  * Specs are key-derived (bucket on the identifier), so within-epoch
  * partition scoping coincides with the fold's global-by-key semantics
  * and every interleaving stays comparable.
  */
class ChaosDifferentialSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private val ops = Vector("c", "i", "r", "u", "d")

  private def randomBatch(rnd: Random, n: Int): DataFrame =
    List.fill(n)((rnd.nextInt(12), s"p${rnd.nextInt(1000)}", ops(rnd.nextInt(5)),
      rnd.nextInt(5).toLong))
      .toDF("id", "name", "__op", "__source_ts_ns")

  private def canon(df: DataFrame): Seq[(Int, String, String, Long)] =
    df.select("id", "name", "__op", "__source_ts_ns").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2, t._3, t._4)).toSeq

  for (seed <- Seq(7, 23)) {
    test(s"model-based chaos: DML + rollback + WAP + maintenance ≡ tracked model (seed $seed)") {
      val rnd = new Random(seed)
      val cfg = CdcApply.UpsertConfig(keepDeletes = false)
      val wh = java.nio.file.Files.createTempDirectory(s"graft-mchaos$seed").toString
      val schema = randomBatch(rnd, 1).schema
      var t = ManagedTable.create(spark, wh, "mchaos", schema, Seq("id"),
        partitionBy = Seq("bucket(2,id)"),
        properties = Map("write.mor.compact-after-upserts" -> "0",
          "write.versions-retained" -> "8"))
      var model = t.read()
      // model snapshot per committed version — the rollback oracle
      val byVersion = scala.collection.mutable.Map(t.meta.currentVersion -> model)
      def record(): Unit = byVersion(t.meta.currentVersion) = model
      for (step <- 1 to 40) {
        rnd.nextInt(10) match {
          case 0 =>
            t.updatePartitionSpec(
              Vector(Seq("bucket(2,id)"), Seq("bucket(4,id)"), Seq.empty[String])(rnd.nextInt(3)))
          case 1 => t.compactMinor(); record()
          case 2 => t.compact(); record()
          case 3 =>
            Maintenance.run(t, Maintenance.Policy(maxTrickleGroups = 2 + rnd.nextInt(3)))
            record()
          case 4 => t = ManagedTable.load(spark, wh, "mchaos").get
          case 5 => // row-level DELETE mirrored on the model
            val cut = s"p${rnd.nextInt(1000)}"
            t.deleteWhere(col("name") < cut)
            model = model.filter(!(col("name") < cut)).persist()
            record()
          case 6 => // row-level UPDATE (non-key, non-partition column)
            val cut = s"p${rnd.nextInt(1000)}"
            t.updateWhere(col("name") >= cut,
              Map("__op" -> concat(col("__op"), lit("x"))))
            model = model.withColumn("__op",
              when(col("name") >= cut, concat(col("__op"), lit("x")))
                .otherwise(col("__op"))).persist()
            record()
          case 7 => // rollback to a retained, tracked version
            val retained = t.versions().map(_._1).filter(v =>
              byVersion.contains(v) && v != t.meta.currentVersion)
            if (retained.nonEmpty) {
              val v = retained(rnd.nextInt(retained.size))
              t.rollbackTo(v)
              model = byVersion(v)
              record()
            }
          case 8 => // WAP stage + abandon: must be invisible end to end
            t.stageAppend(randomBatch(rnd, 5), s"wip$step")
            t.abandonBranch(s"wip$step")
          case _ =>
            val batch = randomBatch(rnd, 15)
            t.merge(batch, cfg)
            model = CdcApply.upsert(model, batch, Seq("id"), cfg).persist()
            record()
        }
        if (step % 4 == 0)
          assert(canon(t.read()) == canon(model), s"diverged at step $step")
      }
      assert(canon(t.read()) == canon(model), "diverged at end")
      val re = ManagedTable.load(spark, wh, "mchaos").get
      assert(canon(re.read()) == canon(model), "reload diverged")
    }
  }

  // Keyed REGION DML chaos (round 8): an identity-partitioned keyed
  // table under random merges, pure-region deletes (the manifest-drop
  // route), mixed-predicate deletes (tombstones), pure-region
  // overwrites (drop + batch) and maintenance — one seed runs the
  // default metadata routing, the other the tombstone opt-out, so both
  // routes are differentially pinned against the same model. grp is a
  // FUNCTION of id (id % 4) everywhere, so merges never move keys
  // across partitions (the documented partition-move limitation stays
  // out of scope, as in the other chaos folds).
  for ((seed, mode) <- Seq((41, "metadata"), (83, "tombstone"))) {
    test(s"keyed-region chaos: region DML + merges + maintenance ≡ model (seed $seed, $mode)") {
      val rnd = new Random(seed)
      val cfg = CdcApply.UpsertConfig(keepDeletes = false)
      val wh = java.nio.file.Files.createTempDirectory(s"graft-krchaos$seed").toString
      // KEY-UNIQUE batches: the keyed-table contract (duplicate keys in
      // an overwrite batch land as same-seq siblings that a later
      // key-scoped tombstone collapses together, where a row-scoped
      // model keeps one — deliberately out of contract)
      def batch(n: Int): DataFrame =
        rnd.shuffle((0 until 24).toList).take(n).map { id =>
          (id, id % 4, s"p${rnd.nextInt(1000)}", ops(rnd.nextInt(5)), rnd.nextInt(5).toLong)
        }.toDF("id", "grp", "name", "__op", "__source_ts_ns")
      val schema = batch(1).schema
      var t = ManagedTable.create(spark, wh, "krchaos", schema, Seq("id"),
        partitionBy = Seq("grp", "bucket(2,id)"),
        properties = Map("write.versions-retained" -> "8",
          "delete.keyed-region-mode" -> mode))
      var model = t.read()
      def canon5(df: DataFrame): Seq[(Int, Int, String, String, Long)] =
        df.select("id", "grp", "name", "__op", "__source_ts_ns").collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getString(3), r.getLong(4)))
          .sortBy(x => x).toSeq
      for (step <- 1 to 40) {
        rnd.nextInt(8) match {
          case 0 => // PURE-region delete: metadata drop (or tombstones under opt-out)
            val g = rnd.nextInt(5)
            t.deleteWhere(col("grp").isin(g, (g + 1) % 5))
            model = model.filter(!col("grp").isin(g, (g + 1) % 5)).localCheckpoint(true)
          case 1 => // MIXED predicate: always the tombstone route
            val g = rnd.nextInt(4); val cut = s"p${rnd.nextInt(1000)}"
            t.deleteWhere(col("grp") === g && col("name") < cut)
            model = model.filter(!(col("grp") === g && col("name") < cut)).localCheckpoint(true)
          case 2 => // PURE-region overwrite: drop + batch (keys stay in-region)
            val g = rnd.nextInt(4)
            val b = batch(12).where(col("grp") === g)
            t.overwriteWhere(col("grp") === g, b)
            model = model.filter(!(col("grp") === g)).unionByName(b).localCheckpoint(true)
          case 3 => t.compactMinor()
          case 4 =>
            Maintenance.run(t, Maintenance.Policy(maxTrickleGroups = 2 + rnd.nextInt(3)))
          case 5 => t = ManagedTable.load(spark, wh, "krchaos").get
          case 6 => t.compact()
          case _ =>
            val b = batch(15)
            t.merge(b, cfg)
            model = CdcApply.upsert(model, b, Seq("id"), cfg).localCheckpoint(true)
        }
        if (step % 4 == 0)
          assert(canon5(t.read()) == canon5(model), s"diverged at step $step")
      }
      assert(canon5(t.read()) == canon5(model), "diverged at end")
      assert(canon5(ManagedTable.load(spark, wh, "krchaos").get.read()) == canon5(model),
        "reload diverged")
    }
  }

  for (seed <- Seq(101, 202)) {
    test(s"random merge/evolve/maintain/reload interleaving ≡ relational fold (seed $seed)") {
      val rnd = new Random(seed)
      val cfg = CdcApply.UpsertConfig(keepDeletes = false)
      val wh = java.nio.file.Files.createTempDirectory(s"graft-chaos$seed").toString
      val schema = randomBatch(rnd, 1).schema
      var t = ManagedTable.create(spark, wh, "chaos", schema, Seq("id"),
        partitionBy = Seq("bucket(2,id)"),
        properties = Map("write.mor.compact-after-upserts" -> "0",
          "write.versions-retained" -> "3"))
      var folded = t.read()
      val specs = Vector(Seq("bucket(2,id)"), Seq("bucket(4,id)"),
        Seq("bucket(3,id)"), Seq.empty[String])
      var mergesSinceCheck = 0
      for (step <- 1 to 30) {
        rnd.nextInt(8) match {
          case 0 =>
            val sp = specs(rnd.nextInt(specs.size))
            info(s"step $step: evolve -> ${sp.mkString("|")}")
            t.updatePartitionSpec(sp)
          case 1 => info(s"step $step: compactMinor"); t.compactMinor()
          case 2 =>
            // posdel only applies to never-partitioned tables; exercise the
            // guard path as part of the chaos (must throw, never corrupt)
            info(s"step $step: posdel")
            try t.materializePositionalDeletes()
            catch { case _: IllegalArgumentException => () }
          case 3 => info(s"step $step: compact"); t.compact()
          case 4 =>
            val mx = 2 + rnd.nextInt(4)
            info(s"step $step: maintenance max=$mx")
            Maintenance.run(t, Maintenance.Policy(maxTrickleGroups = mx))
          case 5 =>
            info(s"step $step: reload")
            t = ManagedTable.load(spark, wh, "chaos").get
          case _ =>
            info(s"step $step: merge")
            val batch = randomBatch(rnd, 20)
            t.merge(batch, cfg)
            folded = CdcApply.upsert(folded, batch, Seq("id"), cfg).persist()
            mergesSinceCheck += 1
        }
        // checking every step would be O(steps²) plan growth; check after
        // every mutation cluster instead
        if (mergesSinceCheck > 0 && step % 3 == 0) {
          assert(canon(t.read()) == canon(folded), s"diverged at step $step")
          mergesSinceCheck = 0
        }
      }
      assert(canon(t.read()) == canon(folded), "diverged at end")
      // final full compact normalizes everything and must not change state
      t.compact()
      assert(canon(t.read()) == canon(folded), "final compact changed state")
      val re = ManagedTable.load(spark, wh, "chaos").get
      assert(canon(re.read()) == canon(folded), "reload diverged")
    }
  }

  for (seed <- Seq(11, 29)) {
    test(s"DV-at-commit chaos: merges/DML/overwriteWhere/maintenance ≡ model (seed $seed)") {
      val rnd = new Random(seed)
      val cfg = CdcApply.UpsertConfig(keepDeletes = false)
      val wh = java.nio.file.Files.createTempDirectory(s"graft-dvchaos$seed").toString
      val schema = randomBatch(rnd, 1).schema
      var t = ManagedTable.create(spark, wh, "dvchaos", schema, Seq("id"),
        properties = Map(
          "write.mor.posdel-on-commit" -> "always",
          "write.mor.compact-after-upserts" -> "3",
          "write.versions-retained" -> "8"))
      var model = t.read()
      for (step <- 1 to 35) {
        rnd.nextInt(9) match {
          case 0 => t.compactMinor()
          case 1 => t.compact()
          case 2 => t.materializePositionalDeletes(): Unit
          case 3 => Maintenance.run(t,
            Maintenance.Policy(maxTrickleGroups = 2 + rnd.nextInt(3))): Unit
          case 4 => t = ManagedTable.load(spark, wh, "dvchaos").get
          case 5 =>
            val cut = s"p${rnd.nextInt(1000)}"
            t.deleteWhere(col("name") < cut)
            model = model.filter(!(col("name") < cut)).persist()
          case 6 =>
            val cut = s"p${rnd.nextInt(1000)}"
            t.updateWhere(col("name") >= cut,
              Map("__op" -> concat(col("__op"), lit("y"))))
            model = model.withColumn("__op",
              when(col("name") >= cut, concat(col("__op"), lit("y")))
                .otherwise(col("__op"))).persist()
          case 7 => // region backfill: replace ids < 6 with a fresh slice
            val batch = List.fill(6)((rnd.nextInt(6), s"bf${rnd.nextInt(100)}",
              ops(rnd.nextInt(5)), rnd.nextInt(5).toLong))
              .toDF("id", "name", "__op", "__source_ts_ns")
            t.overwriteWhere(col("id") < 6, batch)
            model = model.filter(col("id") >= 6).unionByName(batch).persist()
          case _ =>
            val batch = randomBatch(rnd, 15)
            t.merge(batch, cfg)
            model = CdcApply.upsert(model, batch, Seq("id"), cfg).persist()
        }
        if (step % 4 == 0)
          assert(canon(t.read()) == canon(model), s"diverged at step $step")
      }
      assert(canon(t.read()) == canon(model), "diverged at end")
      val re = ManagedTable.load(spark, wh, "dvchaos").get
      assert(canon(re.read()) == canon(model), "reload diverged")
    }
  }

  for (seed <- Seq(17)) {
    test(s"partitioned DV-at-commit chaos: per-tuple sidecar chains ≡ model (seed $seed)") {
      val rnd = new Random(seed)
      val cfg = CdcApply.UpsertConfig(keepDeletes = false)
      val wh = java.nio.file.Files.createTempDirectory(s"graft-dvpchaos$seed").toString
      val schema = randomBatch(rnd, 1).schema
      var t = ManagedTable.create(spark, wh, "dvpchaos", schema, Seq("id"),
        partitionBy = Seq("bucket(2,id)"),
        properties = Map(
          "write.mor.posdel-on-commit" -> "always",
          "write.mor.compact-after-upserts" -> "3",
          "write.versions-retained" -> "8"))
      var model = t.read()
      // the pruned reads' probes draw from their own stream, so the
      // operation sequence stays the one `seed` always produced
      val probeRnd = new Random(seed * 101)
      for (step <- 1 to 30) {
        rnd.nextInt(8) match {
          case 0 => t.compactMinor()
          case 1 => t.compact()
          // (no materializePositionalDeletes branch: it is unpartitioned-
          // only; partitioned tuple chains restart via compact())
          case 2 => Maintenance.run(t,
            Maintenance.Policy(maxTrickleGroups = 2 + rnd.nextInt(3))): Unit
          case 3 => t = ManagedTable.load(spark, wh, "dvpchaos").get
          case 4 =>
            val cut = s"p${rnd.nextInt(1000)}"
            t.deleteWhere(col("name") < cut)
            model = model.filter(!(col("name") < cut)).persist()
          case 5 =>
            val cut = s"p${rnd.nextInt(1000)}"
            t.updateWhere(col("name") >= cut,
              Map("__op" -> concat(col("__op"), lit("y"))))
            model = model.withColumn("__op",
              when(col("name") >= cut, concat(col("__op"), lit("y")))
                .otherwise(col("__op"))).persist()
          case 6 =>
            val batch = List.fill(6)((rnd.nextInt(6), s"bf${rnd.nextInt(100)}",
              ops(rnd.nextInt(5)), rnd.nextInt(5).toLong))
              .toDF("id", "name", "__op", "__source_ts_ns")
            t.overwriteWhere(col("id") < 6, batch)
            model = model.filter(col("id") >= 6).unionByName(batch).persist()
          case _ =>
            val batch = randomBatch(rnd, 15)
            t.merge(batch, cfg)
            model = CdcApply.upsert(model, batch, Seq("id"), cfg).persist()
        }
        if (step % 4 == 0) {
          val live = canon(model)
          assert(canon(t.read()) == live, s"diverged at step $step")
          // bounds-pruned reads on the non-identifier `name`, where posdel
          // sidecars and upsert delete carriers interleave per tuple
          t.analyzeColumns(Seq("name"))
          val probe =
            if (live.isEmpty || probeRnd.nextBoolean()) s"p${probeRnd.nextInt(1000)}"
            else live(probeRnd.nextInt(live.size))._2
          assert(canon(t.readWhereEq("name", probe)) ==
            canon(model.filter(col("name") === probe)),
            s"pruned equality read diverged at step $step (probe $probe)")
          val Seq(lo, hi) = Seq.fill(2)(s"p${probeRnd.nextInt(1000)}").sorted
          assert(canon(t.readColRange("name", lo, hi)) ==
            canon(model.filter(col("name").between(lo, hi))),
            s"pruned range read diverged at step $step ([$lo, $hi])")
        }
      }
      assert(canon(t.read()) == canon(model), "diverged at end")
      val re = ManagedTable.load(spark, wh, "dvpchaos").get
      assert(canon(re.read()) == canon(model), "reload diverged")
    }
  }

  /** Adoption chaos: [[ManagedTable.addFiles]] interleaved with merges,
    * DML, maintenance tiers and reloads on an unpartitioned table. An
    * adoption models as an APPEND of the same rows (data-kind group,
    * asserts nothing about existing keys); everything downstream — later
    * upserts hiding adopted keys, posdel materialization, compaction,
    * deleteWhere — must treat adopted rows exactly like written ones,
    * including the dir-name seq recovery every read exercises.
    */
  for (seed <- Seq(31, 57)) {
    test(s"adoption chaos: addFiles + merge/DML/maintenance ≡ fold (seed $seed)") {
      val rnd = new Random(seed)
      val cfg = CdcApply.UpsertConfig(keepDeletes = false)
      val wh = java.nio.file.Files.createTempDirectory(s"graft-achaos$seed").toString
      val schema = randomBatch(rnd, 1).schema
      var t = ManagedTable.create(spark, wh, "achaos", schema, Seq("id"),
        properties = Map("write.mor.compact-after-upserts" -> "0"))
      var folded = t.read()
      for (step <- 1 to 24) {
        rnd.nextInt(9) match {
          case 8 => // keep bloom filters on `name` current — the pruned
            // equality read is then asserted against the model every
            // checkpoint below, under every interleaving
            t.buildBlooms(Seq("name"))
          case 0 => // adopt a standalone parquet batch (unique fresh keys
            // per step so the append model needs no dedup assumption)
            val batch = List.fill(6)((1000 + step * 10 + rnd.nextInt(10),
              s"a${rnd.nextInt(100)}", "c", rnd.nextInt(5).toLong))
              .toDF("id", "name", "__op", "__source_ts_ns").distinct()
            val ext = java.nio.file.Files.createTempDirectory(s"graft-aext$step").toString
            batch.coalesce(1).write.mode("overwrite").parquet(ext)
            val files = new java.io.File(ext).listFiles()
              .filter(f => f.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
            t.addFiles(files)
            folded = folded.unionByName(batch).persist()
          case 1 => t.compactMinor()
          case 2 => try t.materializePositionalDeletes()
            catch { case _: IllegalArgumentException => () }
          case 3 => t.compact()
          case 4 => t = ManagedTable.load(spark, wh, "achaos").get
          case 5 =>
            val cut = s"p${rnd.nextInt(1000)}"
            t.deleteWhere(col("name") < cut)
            folded = folded.filter(!(col("name") < cut)).persist()
          case _ =>
            val batch = randomBatch(rnd, 12)
            t.merge(batch, cfg)
            folded = CdcApply.upsert(folded, batch, Seq("id"), cfg).persist()
        }
        if (step % 4 == 0) {
          assert(canon(t.read()) == canon(folded), s"diverged at step $step")
          // bloom/bounds-pruned equality read ≡ plain filter on the model,
          // whatever mix of adoption/merge/DML/maintenance came before
          val probe = s"a${rnd.nextInt(100)}"
          assert(canon(t.readWhereEq("name", probe)
              .select("id", "name", "__op", "__source_ts_ns")) ==
            canon(folded.filter(col("name") === probe)),
            s"pruned equality read diverged at step $step (probe $probe)")
        }
      }
      t.compact()
      assert(canon(t.read()) == canon(folded), "final compact diverged")
      val re = ManagedTable.load(spark, wh, "achaos").get
      assert(canon(re.read()) == canon(folded), "reload diverged")
    }
  }
}
