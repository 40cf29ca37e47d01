package graft.tables

import graft.SharedSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Row-level DML surface (deleteWhere / updateWhere / mergeInto): SQL
  * semantics, merge-on-read cost model (no table rewrite), snapshot
  * isolation (time travel sees the pre-DML state), and the key/partition
  * identity-move tombstone rules.
  */
class DmlSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private def wh = java.nio.file.Files.createTempDirectory("graft-dml").toString

  private def seed(w: String, name: String, partitionBy: Seq[String] = Seq.empty,
                   ids: Seq[String] = Seq("id")): ManagedTable = {
    val df = (1 to 100).map(i => (i, s"n$i", i % 10, i.toLong * 10)).toDF("id", "name", "grp", "v")
    val t = ManagedTable.create(spark, w, name, df.schema, ids, partitionBy,
      properties = Map("write.versions-retained" -> "10"))
    t.append(df)
    t
  }

  private def canon(df: DataFrame): Seq[(Int, String, Int, Long)] =
    df.select("id", "name", "grp", "v").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getLong(3)))
      .sortBy(t => t).toSeq

  test("deleteWhere removes TRUE-matching rows only; null cond keeps the row") {
    val t = seed(wh, "d1")
    // cond is null for id=1..10 (nullif), true for grp=3, false elsewhere
    t.deleteWhere(when(col("id") <= 10, lit(null)).otherwise(col("grp") === 3))
    val left = t.read().select("id").as[Int].collect().toSet
    // grp==3 ids are 3,13,23,...,93; of those id=3 is in the null zone → kept
    assert(left.contains(3))
    assert(!(left.contains(13) || left.contains(93)))
    assert(left.size == 100 - 9)
  }

  test("deleteWhere is MoR: base files untouched, time travel sees old state") {
    val w = wh
    val t = seed(w, "d2")
    val v0 = t.meta.currentVersion
    val before = canon(t.read())
    t.deleteWhere(col("id") > 90)
    assert(t.read().count() == 90)
    assert(canon(t.readVersion(v0)) == before, "time travel must see pre-delete state")
  }

  test("deleteWhere with nothing matched burns no version") {
    val t = seed(wh, "d3")
    val v = t.meta.currentVersion
    t.deleteWhere(col("id") > 1000)
    assert(t.meta.currentVersion == v)
  }

  test("deleteWhere on a keyless table falls back to copy-on-write") {
    val w = wh
    val df = (1 to 50).map(i => (i, s"x$i")).toDF("a", "b")
    val t = ManagedTable.create(spark, w, "d4", df.schema, Seq.empty)
    t.append(df)
    t.deleteWhere(col("a") % 2 === 0)
    assert(t.read().count() == 25)
    assert(t.read().agg(max("a")).head().getInt(0) == 49)
  }

  test("updateWhere applies assignments with casts; untouched rows keep values") {
    val t = seed(wh, "u1")
    t.updateWhere(col("grp") === 5, Map("v" -> (col("v") + 1), "name" -> lit("upd")))
    assert(t.read().count() == 100)
    val updated = t.read().filter(col("grp") === 5).collect()
    assert(updated.length == 10)
    assert(updated.forall(_.getString(1) == "upd"))
    assert(updated.forall(r => r.getLong(3) == r.getInt(0).toLong * 10 + 1))
    assert(t.read().filter(col("grp") =!= 5 && col("name") === "upd").count() == 0)
  }

  test("updateWhere moving the KEY tombstones the old identity") {
    val t = seed(wh, "u2")
    // move id=7 to id=1007
    t.updateWhere(col("id") === 7, Map("id" -> lit(1007)))
    val ids = t.read().select("id").as[Int].collect().toSet
    assert(!ids.contains(7) && ids.contains(1007))
    assert(ids.size == 100)
  }

  test("updateWhere moving a key ONTO an existing key replaces it") {
    val t = seed(wh, "u3")
    t.updateWhere(col("id") === 7, Map("id" -> lit(8)))
    val rows = t.read().filter(col("id") === 8).collect()
    assert(rows.length == 1)
    assert(rows.head.getString(1) == "n7", "the moved row wins over the old id=8 row")
    assert(t.read().count() == 99)
  }

  test("updateWhere moving a PARTITION source column leaves no stale copy") {
    val w = wh
    val t = seed(w, "u4", partitionBy = Seq("identity(grp)"))
    t.updateWhere(col("id") === 42, Map("grp" -> lit(999)))
    val copies = t.read().filter(col("id") === 42).collect()
    assert(copies.length == 1, s"expected one row for id=42, got ${copies.length}")
    assert(copies.head.getInt(2) == 999)
    // the partition-pruned read agrees (manifest filter on the new tuple)
    assert(t.readPartitions(_("grp") == "999").filter(col("id") === 42).count() == 1)
    assert(t.readPartitions(_("grp") == "2").filter(col("id") === 42).count() == 0)
  }

  test("mergeInto: update/delete/insert clauses in SQL order, untouched target intact") {
    val t = seed(wh, "m1")
    // source: ids 95..105 — 95..100 matched, 101..105 unmatched;
    // matched & even → delete; matched & odd → update v from source;
    // unmatched & id <= 103 → insert
    val src = (95 to 105).map(i => (i, s"s$i", -1, i.toLong * 1000)).toDF("id", "name", "grp", "v")
    t.mergeInto(src,
      updateWhen = Some(lit(true)),
      updateSet = Map("v" -> col("s.v")),
      deleteWhen = Some(col("s.id") % 2 === 0),
      insertWhen = Some(col("s.id") <= 103))
    val m = t.read().collect().map(r => r.getInt(0) -> r).toMap
    assert(!m.contains(96) && !m.contains(98) && !m.contains(100), "matched evens deleted")
    assert(m(95).getLong(3) == 95000 && m(99).getLong(3) == 99000, "matched odds updated")
    assert(m(95).getString(1) == "n95", "updateSet only touches v")
    assert(m(101).getString(1) == "s101" && m(103).getLong(3) == 103000, "inserts landed")
    assert(!m.contains(104) && !m.contains(105), "insertWhen filtered")
    assert(m(1).getString(1) == "n1", "untouched rows intact")
    assert(t.read().count() == 100 - 3 + 3)
  }

  test("mergeInto with empty updateSet updates all source columns by name") {
    val t = seed(wh, "m2")
    val src = Seq((50, "replaced", 77, 0L)).toDF("id", "name", "grp", "v")
    t.mergeInto(src)
    val r = t.read().filter(col("id") === 50).head()
    assert(r.getString(1) == "replaced" && r.getInt(2) == 77 && r.getLong(3) == 0L)
  }

  test("mergeInto rejects assigning identifier or partition columns") {
    val t = seed(wh, "m3", partitionBy = Seq("identity(grp)"))
    intercept[IllegalArgumentException] {
      t.mergeInto(Seq((1, 2)).toDF("id", "v"), updateSet = Map("id" -> lit(9)))
    }
    intercept[IllegalArgumentException] {
      t.mergeInto(Seq((1, 2)).toDF("id", "v"), updateSet = Map("grp" -> lit(9)))
    }
  }

  test("mergeInto BY SOURCE: delete/update act only on target rows absent from source") {
    val t = seed(wh, "mbs1")
    // source covers ids 1..50 (matched: v from source); unmatched targets
    // 51..100: grp==0 → delete, grp==1 → flag name, rest untouched
    val src = (1 to 50).map(i => (i, s"s$i", -1, i.toLong * 1000)).toDF("id", "name", "grp", "v")
    t.mergeInto(src,
      updateWhen = Some(lit(true)),
      updateSet = Map("v" -> col("s.v")),
      deleteWhen = None,
      insertWhen = None,
      deleteBySourceWhen = Some(col("t.grp") === 0),
      updateBySourceWhen = Some(col("t.grp") === 1),
      updateBySourceSet = Map("name" -> lit("stale")))
    val m = t.read().collect().map(r => r.getInt(0) -> r).toMap
    Seq(60, 70, 80, 90, 100).foreach(i => assert(!m.contains(i), s"id=$i should be deleted"))
    Seq(51, 61, 71, 81, 91).foreach(i => assert(m(i).getString(1) == "stale"))
    assert(m(52).getString(1) == "n52", "unmatched rows hit by no clause stay untouched")
    assert(m(10).getLong(3) == 10000L, "matched branch still updates")
    assert(m(10).getString(1) == "n10", "matched rows are NOT in the by-source scope")
    assert(t.read().count() == 95)
  }

  test("mergeInto BY SOURCE: delete checked before update; validation guards") {
    val t = seed(wh, "mbs2")
    val src = (1 to 50).map(i => (i, s"s$i", -1, i.toLong)).toDF("id", "name", "grp", "v")
    // overlapping conditions: grp==2 rows satisfy both → DELETE wins (the
    // primitive's fixed order; SQL clause order is folded by the resolver)
    t.mergeInto(src,
      updateWhen = None, insertWhen = None,
      deleteBySourceWhen = Some(col("t.grp") === 2),
      updateBySourceWhen = Some(col("t.grp") === 2 || col("t.grp") === 3),
      updateBySourceSet = Map("name" -> lit("stale")))
    val m = t.read().collect().map(r => r.getInt(0) -> r).toMap
    Seq(52, 62, 72, 82, 92).foreach(i => assert(!m.contains(i), s"id=$i delete wins"))
    Seq(53, 63, 73, 83, 93).foreach(i => assert(m(i).getString(1) == "stale"))
    intercept[IllegalArgumentException] { // SET without WHEN never applies
      t.mergeInto(src, updateBySourceSet = Map("name" -> lit("x")))
    }
    intercept[IllegalArgumentException] { // WHEN without SET: nothing to assign
      t.mergeInto(src, updateBySourceWhen = Some(lit(true)))
    }
    intercept[IllegalArgumentException] { // identifier assignment refused
      t.mergeInto(src, updateBySourceWhen = Some(lit(true)),
        updateBySourceSet = Map("id" -> lit(9)))
    }
  }

  test("mergeInto BY SOURCE on a partitioned table tombstones across partitions") {
    val w = wh
    val t = seed(w, "mbs3", partitionBy = Seq("identity(grp)"))
    val src = (1 to 20).map(i => (i, s"s$i", -1, 0L)).toDF("id", "name", "grp", "v")
    t.mergeInto(src, updateWhen = None, insertWhen = None,
      deleteBySourceWhen = Some(lit(true)))
    // full sync: only the 20 source-matched rows survive (their values
    // untouched — no matched action fired)
    assert(t.read().count() == 20)
    assert(t.read().select("id").as[Int].collect().toSet == (1 to 20).toSet)
    assert(t.read().filter(col("id") === 5).head().getString(1) == "n5")
  }

  test("mergeInto key-pruned state: agrees with full-state merge on a trickle source") {
    val w = wh
    val t = seed(w, "m4")
    // trickle source touching a narrow key range — the state scan should
    // prune on manifest bounds; semantics must be identical either way
    val src = Seq((10, "t10", 0, 1L), (11, "t11", 0, 2L), (200, "t200", 0, 3L))
      .toDF("id", "name", "grp", "v")
    t.mergeInto(src)
    val m = t.read().collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(m(10) == "t10" && m(11) == "t11" && m(200) == "t200")
    assert(t.read().count() == 101)
    assert(m(12) == "n12")
  }

  test("mergeInto: a non-deterministic small source that grows between evaluations is not truncated") {
    val w = wh
    val t = seed(w, "nd")
    // Each evaluation of the source runs the filter over ids 1..100 in one
    // task. The first evaluation (the key-bounds count) keeps 64 rows, every
    // later one keeps all 100 — so the bounded collect that follows sees 65.
    NonDeterministicSource.calls.set(0L)
    val grows = udf((_: Long) => NonDeterministicSource.calls.getAndIncrement() >= 36L)
      .asNondeterministic()
    val src = spark.range(1, 101, 1, 1).filter(grows(col("id")))
      .select(col("id").cast("int").as("id"), concat(lit("s"), col("id")).as("name"),
        lit(0).as("grp"), col("id").as("v"))
    t.mergeInto(src)
    val got = t.read().select("id", "name").collect().map(r => (r.getInt(0), r.getString(1)))
    assert(got.length == 100 && got.map(_._1).distinct.length == 100, got.toSeq)
    assert(got.forall { case (id, name) => name == s"s$id" },
      s"rows left unmerged: ${got.filterNot { case (id, name) => name == s"s$id" }.toSeq}")
  }

  test("DML on a partitioned table goes through manifest commits (time travel works)") {
    val w = wh
    val t = seed(w, "p1", partitionBy = Seq("bucket(4,id)"))
    val v0 = t.meta.currentVersion
    val before = canon(t.read())
    t.deleteWhere(col("grp") === 0)
    t.updateWhere(col("grp") === 1, Map("name" -> lit("g1")))
    t.mergeInto(Seq((2, "merged", 0, 0L)).toDF("id", "name", "grp", "v"))
    assert(t.read().filter(col("grp") === 0 && col("id") =!= 2).count() == 0)
    assert(t.read().filter(col("name") === "g1").count() == 10)
    assert(t.read().filter(col("id") === 2).head().getString(1) == "merged")
    assert(canon(t.readVersion(v0)) == before)
    // reload sees the same state (all DML went through durable commits)
    val re = ManagedTable.load(spark, w, "p1").get
    assert(canon(re.read()) == canon(t.read()))
  }

  test("overwriteWhere atomically replaces the region; contract violations throw first") {
    val w = wh
    val t = seed(w, "ow1")
    val v0 = t.meta.currentVersion
    val batch = (1 to 5).map(i => (i, "re", 0, 999L)).toDF("id", "name", "grp", "v")
    // a batch row outside the region refuses BEFORE anything commits
    intercept[IllegalArgumentException] {
      t.overwriteWhere(col("id") > 50, batch)
    }
    assert(t.meta.currentVersion == v0, "failed overwriteWhere must not commit")
    t.overwriteWhere(col("id") <= 10, batch)
    // ids 1..10 gone, replaced by the 5 backfill rows; 11..100 untouched
    assert(t.read().count() == 95)
    assert(t.read().filter(col("id") <= 10).count() == 5)
    assert(t.read().filter(col("id") <= 10).select("v").distinct().head().getLong(0) == 999L)
    assert(t.read().filter(col("id") === 50).head().getString(1) == "n50")
    // MoR: the old snapshot is intact
    assert(t.readVersion(v0).count() == 100)
  }

  test("overwritePartitions replaces only the batch's partitions, zero rewrite") {
    val w = wh
    val t = seed(w, "dpo1", partitionBy = Seq("grp"), ids = Seq.empty)
    val before = t.filesMetadata().select("path").as[String].collect().toSet
    // recompute partitions grp=3 and grp=7
    val batch = Seq((1001, "x", 3, 1L), (1002, "y", 7, 2L))
      .toDF("id", "name", "grp", "v")
    t.overwritePartitions(batch)
    val after = t.filesMetadata().select("path", "partition").collect()
      .map(r => r.getString(0) -> r.getMap[String, String](1).get("grp").orNull)
    // untouched partitions keep their EXACT old groups (no rewrite)
    val untouched = after.filter { case (_, g) => g != "3" && g != "7" }.map(_._1).toSet
    assert(untouched.subsetOf(before) && untouched.nonEmpty)
    // replaced partitions hold exactly the batch rows
    assert(t.read().filter(col("grp") === 3).count() == 1)
    assert(t.read().filter(col("grp") === 7).select("name").head().getString(0) == "y")
    assert(t.read().count() == 80 + 2)
    // empty batch is a no-op (no burned version)
    val v = t.meta.currentVersion
    t.overwritePartitions(batch.limit(0))
    assert(t.meta.currentVersion == v)
    // multi-epoch tables refuse until compacted
    t.updatePartitionSpec(Seq("bucket(2,id)"))
    intercept[IllegalArgumentException] { t.overwritePartitions(batch) }
  }

  test("overwriteStaticRegion clears the NAMED region: mixed transforms, empty batch, containment") {
    val w = wh
    // identity(grp) + bucket(2,id): the static region grp=3 spans two
    // tuples — dynamic overwrite would leave the bucket the batch misses
    val t = seed(w, "sro1", partitionBy = Seq("grp", "bucket(2, id)"), ids = Seq.empty)
    val before = t.filesMetadata().select("path").as[String].collect().toSet
    assert(t.read().filter(col("grp") === 3).count() == 10)
    // one replacement row lands in ONE bucket; the other bucket's old
    // grp=3 rows must be cleared anyway
    t.overwriteStaticRegion(Seq("grp" -> "3"),
      Seq((1001, "x", 3, 1L)).toDF("id", "name", "grp", "v"))
    assert(t.read().filter(col("grp") === 3).count() == 1,
      "stale sibling tuples of the named region survived")
    assert(t.read().count() == 90 + 1)
    // untouched partitions keep their EXACT old groups (zero rewrite)
    val after = t.filesMetadata().select("path", "partition").collect()
      .map(r => r.getString(0) -> r.getMap[String, String](1).get("grp").orNull)
    val untouched = after.filter(_._2 != "3").map(_._1).toSet
    assert(untouched.subsetOf(before) && untouched.nonEmpty)
    // empty batch TRUNCATES the region (vs overwritePartitions' no-op)
    t.overwriteStaticRegion(Seq("grp" -> "7"), t.read().limit(0))
    assert(t.read().filter(col("grp") === 7).count() == 0)
    assert(t.read().count() == 80 + 1)
    // barrier stamped: replaced rows vanished without tombstones
    assert(t.meta.properties(ManagedTable.BarrierKey).toLong == t.meta.currentVersion)
    // batch rows outside the named region abort before the pointer flip
    val v = t.meta.currentVersion
    intercept[IllegalArgumentException] {
      t.overwriteStaticRegion(Seq("grp" -> "5"),
        Seq((1002, "y", 6, 1L)).toDF("id", "name", "grp", "v"))
    }
    assert(t.meta.currentVersion == v, "failed region overwrite must not commit")
    // non-identity sources are refused
    intercept[IllegalArgumentException] {
      t.overwriteStaticRegion(Seq("id" -> "1"), t.read().limit(0))
    }
    // empty batch over an already-empty region is a semantic no-op:
    // no version burned, no changelog barrier advanced
    val v2 = t.meta.currentVersion
    val b2 = t.meta.properties(ManagedTable.BarrierKey)
    t.overwriteStaticRegion(Seq("grp" -> "7"), t.read().limit(0))
    assert(t.meta.currentVersion == v2, "no-op region overwrite must not commit")
    assert(t.meta.properties(ManagedTable.BarrierKey) == b2)
    // a pure insert into an empty region is append-shaped: commits, but
    // does NOT stamp the barrier (no rows vanished; changelog stays
    // incremental)
    t.overwriteStaticRegion(Seq("grp" -> "7"),
      Seq((1003, "z", 7, 1L)).toDF("id", "name", "grp", "v"))
    assert(t.read().filter(col("grp") === 7).count() == 1)
    assert(t.meta.properties(ManagedTable.BarrierKey) == b2,
      "insert into an empty region must not barrier the changelog")
  }

  test("overwriteStaticRegion multi-epoch falls back to row-level overwriteWhere") {
    val w = wh
    val t = seed(w, "sro2", partitionBy = Seq("grp"), ids = Seq.empty)
    t.updatePartitionSpec(Seq("grp", "bucket(2, id)"))
    t.append(Seq((200, "new", 3, 5L)).toDF("id", "name", "grp", "v"))
    // old-epoch groups carry a different tuple formula — the metadata
    // drop is unsound, but the row-level fallback still replaces exactly
    // the region across both epochs
    t.overwriteStaticRegion(Seq("grp" -> "3"),
      Seq((1001, "x", 3, 1L)).toDF("id", "name", "grp", "v"))
    assert(t.read().filter(col("grp") === 3).count() == 1)
    assert(t.read().count() == 90 + 1)
    // a non-identity spec key is refused BEFORE the multi-epoch fallback
    // — epoch state must never flip a refusal into a silent value
    // overwrite
    intercept[IllegalArgumentException] {
      t.overwriteStaticRegion(Seq("id" -> "1"), t.read().limit(0))
    }
  }

  test("metadata delete: region predicate on a keyless partitioned table drops groups, zero rewrite") {
    val w = wh
    val t = seed(w, "md1", partitionBy = Seq("grp"), ids = Seq.empty)
    val before = t.filesMetadata().select("path").as[String].collect().toSet
    val v0 = t.meta.currentVersion
    // predicate is a pure function of the identity source: IN + range mix
    t.deleteWhere(col("grp").isin(3, 7) || col("grp") > 8)
    assert(t.meta.currentVersion == v0 + 1)
    assert(t.read().filter(col("grp").isin(3, 7, 9)).count() == 0)
    assert(t.read().count() == 70)
    // every surviving group is an UNTOUCHED original file — no rewrite
    val after = t.filesMetadata().select("path").as[String].collect().toSet
    assert(after.subsetOf(before) && after.nonEmpty,
      "metadata delete must drop manifest entries, never rewrite survivors")
    // barrier stamped: rows vanished without tombstones
    assert(t.meta.properties(ManagedTable.BarrierKey).toLong == t.meta.currentVersion)
    // time travel still sees the pre-delete state
    assert(t.readVersion(v0).count() == 100)
  }

  test("metadata delete runs zero data-reading Spark jobs") {
    val t = seed(wh, "md2", partitionBy = Seq("grp"), ids = Seq.empty)
    // scope the accounting to THIS test's jobs via a job group — suites
    // share one SparkContext, so a global byte count would absorb other
    // suites' concurrent scans and flake
    val tag = s"md-zero-scan-${java.util.UUID.randomUUID()}"
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val groupJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val endedJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == tag)) {
          groupJobs.add(js.jobId)
          js.stageIds.foreach(id => stages.add(id))
        }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        endedJobs.add(je.jobId)
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (stages.contains(te.stageId))
          bytes.addAndGet(te.taskMetrics.inputMetrics.bytesRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(tag, "metadata delete under test")
      try t.deleteWhere(col("grp") === 4)
      finally spark.sparkContext.clearJobGroup()
      // listener delivery is async but FIFO: once OUR group's every job-end
      // arrived, its task-end events (and their input metrics) preceded it
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      def pending = groupJobs.isEmpty ||
        groupJobs.stream().anyMatch(j => !endedJobs.contains(j))
      while (pending && System.nanoTime() < deadline) Thread.sleep(20)
      assert(bytes.get() == 0L,
        s"metadata delete read ${bytes.get()} bytes — it must not open data files")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(t.read().count() == 90)
  }

  test("metadata delete: match-nothing region burns no version; non-region predicates fall through") {
    val w = wh
    val t = seed(w, "md3", partitionBy = Seq("grp"), ids = Seq.empty)
    val v = t.meta.currentVersion
    t.deleteWhere(col("grp") === 42) // no such region
    assert(t.meta.currentVersion == v, "match-nothing metadata delete must not commit")
    assert(t.read().count() == 100)
    // a predicate over a NON-partition column takes the row-level path
    t.deleteWhere(col("v") > 900L)
    assert(t.read().count() == 90)
    // mixed region + row predicate also falls through (not tuple-decidable):
    // grp=1 keeps only ids 51,61,71,81 (v>=500; id 91 went with v>900)
    t.deleteWhere(col("grp") === 1 && col("v") < 500L)
    assert(t.read().filter(col("grp") === 1).count() === 4)
  }

  test("metadata delete agrees with row-level semantics on null partition values and derived siblings") {
    val w = wh
    // nullable int partition source + a derived bucket: region grp=3
    // spans several tuples; null-region deletes must match row semantics
    val df = (1 to 40).map(i =>
      (i, if (i % 5 == 0) null else Integer.valueOf(i % 4), i.toLong))
      .toDF("id", "grp", "v")
    val t = ManagedTable.create(spark, w, "md4", df.schema, Seq.empty,
      Seq("grp", "bucket(2, id)"))
    t.append(df)
    val before = t.filesMetadata().select("path").as[String].collect().toSet
    t.deleteWhere(col("grp").isNull || col("grp") === 3)
    val expected = (1 to 40).filter(i => i % 5 != 0 && i % 4 != 3)
      .filterNot(i => i % 5 == 0).toSet
    assert(t.read().select("id").as[Int].collect().toSet == expected)
    assert(t.filesMetadata().select("path").as[String].collect().toSet.subsetOf(before),
      "derived-transform sibling tuples of the region must drop without rewrite")
    // keyed tables take the manifest drop too (round 8) unless the
    // consumer opted into changelog-precise tombstones
    val tk = seed(w, "md5", partitionBy = Seq("grp"), ids = Seq("id"))
    val keyedBefore = tk.filesMetadata().select("path").as[String].collect().toSet
    tk.deleteWhere(col("grp") === 3)
    assert(tk.read().filter(col("grp") === 3).count() == 0)
    assert(tk.filesMetadata().select("path").as[String].collect().toSet
        .subsetOf(keyedBefore),
      "keyed region delete must drop groups (manifest diff), not rewrite")
    val tkOpt = ManagedTable.create(spark, w, "md6",
      (1 to 10).map(i => (i, i % 2, i.toLong)).toDF("id", "grp", "v").schema,
      Seq("id"), Seq("grp"),
      properties = Map("delete.keyed-region-mode" -> "tombstone"))
    tkOpt.append((1 to 10).map(i => (i, i % 2, i.toLong)).toDF("id", "grp", "v"))
    val optBefore = tkOpt.filesMetadata().select("path").as[String].collect().toSet
    tkOpt.deleteWhere(col("grp") === 1)
    assert(tkOpt.read().filter(col("grp") === 1).count() == 0)
    assert(optBefore.subsetOf(
      tkOpt.filesMetadata().select("path").as[String].collect().toSet),
      "tombstone opt-out must keep every pre-delete group (changelog precision)")
  }

  test("scoped keyless delete: mixed predicate rewrites only the region's partitions") {
    val w = wh
    val t = seed(w, "skd1", partitionBy = Seq("grp"), ids = Seq.empty)
    val byGrp = t.filesMetadata().select("path", "partition").collect()
      .map(r => r.getString(0) -> r.getMap[String, String](1).get("grp").orNull).toSeq
    val v0 = t.meta.currentVersion
    // region conjunct (grp IN 2,5) × row residual (v < 500): only those
    // two partitions may hold matches
    t.deleteWhere(col("grp").isin(2, 5) && col("v") < 500L)
    assert(t.meta.currentVersion == v0 + 1)
    // semantics = the full row-level filter
    val expected = (1 to 100).filter(i => !(Set(2, 5).contains(i % 10) && i * 10 < 500)).toSet
    assert(t.read().select("id").as[Int].collect().toSet == expected)
    // untouched partitions keep their EXACT groups; affected ones were rewritten
    val after = t.filesMetadata().select("path", "partition").collect()
      .map(r => r.getString(0) -> r.getMap[String, String](1).get("grp").orNull).toSeq
    val untouchedBefore = byGrp.filterNot(p => p._2 == "2" || p._2 == "5").map(_._1).toSet
    val untouchedAfter = after.filterNot(p => p._2 == "2" || p._2 == "5").map(_._1).toSet
    assert(untouchedAfter == untouchedBefore,
      "partitions outside the region conjunct must keep their exact files")
    assert(after.filter(p => p._2 == "2" || p._2 == "5").map(_._1).toSet
      .intersect(byGrp.map(_._1).toSet).isEmpty,
      "affected partitions must be rewritten")
    // barrier stamped (rows vanished without tombstones)
    assert(t.meta.properties(ManagedTable.BarrierKey).toLong == t.meta.currentVersion)
    // region conjunct matching NOTHING: semantic no-op, no version burnt
    val v1 = t.meta.currentVersion
    t.deleteWhere(col("grp") === 77 && col("v") < 100L)
    assert(t.meta.currentVersion == v1)
    // OR predicates are not conjunct-decomposable: full COW, still correct
    t.deleteWhere(col("grp") === 1 || col("v") > 980L)
    assert(t.read().filter(col("grp") === 1).count() == 0)
    assert(t.read().filter(col("v") > 980L).count() == 0)
  }

  test("scoped keyless overwriteWhere: the backfill rewrites only the region's partitions") {
    val w = wh
    val t = seed(w, "sko1", partitionBy = Seq("grp"), ids = Seq.empty)
    val files = () => t.filesMetadata().select("path", "partition").collect()
      .map(r => r.getString(0) -> r.getMap[String, String](1).get("grp").orNull).toSeq
    val before = files()
    // recompute the grp=3 region where v < 500: replacement re-tags the
    // rows (v unchanged — batch rows must satisfy the replace condition)
    val region = col("grp") === 3 && col("v") < 500L
    val backfill = t.read().where(region).withColumn("name", lit("bf"))
    t.overwriteWhere(region, backfill)
    // semantics = untouched rows ∪ transformed region
    val got = canon(t.read())
    val expect = (1 to 100).map { i =>
      if (i % 10 == 3 && i * 10 < 500) (i, "bf", i % 10, i.toLong * 10)
      else (i, s"n$i", i % 10, i.toLong * 10)
    }.sortBy(x => x)
    assert(got == expect)
    // only grp=3's groups were rewritten
    val after = files()
    assert(after.filterNot(_._2 == "3").map(_._1).toSet ==
      before.filterNot(_._2 == "3").map(_._1).toSet,
      "partitions outside the backfill region must keep their exact files")
    assert(after.filter(_._2 == "3").map(_._1).toSet
      .intersect(before.map(_._1).toSet).isEmpty)
    // barrier stamped: region rows were replaced without tombstones
    assert(t.meta.properties(ManagedTable.BarrierKey).toLong == t.meta.currentVersion)
    // a batch row OUTSIDE the region still throws before anything commits
    val v = t.meta.currentVersion
    intercept[IllegalArgumentException] {
      t.overwriteWhere(region, backfill.withColumn("grp", lit(4)))
    }
    assert(t.meta.currentVersion == v)
    // PURE-region overwrite skips the region read: entries drop, only the
    // batch is written (zero input bytes from the replaced region)
    val repl = Seq((777, "only", 5, 7L)).toDF("id", "name", "grp", "v")
    val beforePure = files().filterNot(_._2 == "5").map(_._1).toSet
    t.overwriteWhere(col("grp") === 5, repl)
    assert(t.read().filter(col("grp") === 5).count() == 1)
    assert(t.read().filter(col("grp") === 5).select("name").head().getString(0) == "only")
    assert(files().filterNot(_._2 == "5").map(_._1).toSet == beforePure,
      "pure-region overwrite must not touch other partitions")
    // empty batch over a NO-MATCH region: semantic no-op, no version burnt
    val v2 = t.meta.currentVersion
    t.overwriteWhere(col("grp") === 99, repl.limit(0))
    assert(t.meta.currentVersion == v2, "empty no-match overwrite must not commit")
  }

  test("current-time predicates: metadata path allowed (single evaluation), scoped path refused") {
    val w = wh
    val df = (1 to 30).map(i => (i, java.sql.Date.valueOf(s"2020-01-${"%02d".format(i % 3 + 1)}"), i.toLong))
      .toDF("id", "day", "v")
    val t = ManagedTable.create(spark, w, "ct1", df.schema, Seq.empty, Seq("day"))
    t.append(df)
    val before = t.filesMetadata().select("path").as[String].collect().toSet
    // the retention idiom: pure region predicate with current_date — the
    // metadata path's ONE evaluation both decides and applies, so it
    // keeps the fast path (all 2020 days are < today: everything drops)
    t.deleteWhere(col("day") < current_date())
    assert(t.read().count() == 0)
    assert(t.filesMetadata().count() == 0, "metadata path must drop, not rewrite")
    // mixed predicate with current_date: the scoped path's prune and
    // rewrite are separate executions, so it must fall through to the
    // plain COW (correct, just unscoped) — files all rewritten
    val t2 = ManagedTable.create(spark, w, "ct2", df.schema, Seq.empty, Seq("day"))
    t2.append(df)
    val before2 = t2.filesMetadata().select("path").as[String].collect().toSet
    t2.deleteWhere(col("day") < current_date() && col("v") <= 10L)
    assert(t2.read().count() == 20)
    val after2 = t2.filesMetadata().select("path").as[String].collect().toSet
    assert(after2.intersect(before2).isEmpty,
      "two-phase-unsafe predicate must take the single-evaluation COW path")
  }

  test("keyless UPDATE: scoped rewrite, partition moves, no-op region, full-COW fallback") {
    val w = wh
    val t = seed(w, "ku1", partitionBy = Seq("grp"), ids = Seq.empty)
    val files = () => t.filesMetadata().select("path", "partition").collect()
      .map(r => r.getString(0) -> r.getMap[String, String](1).get("grp").orNull).toSeq
    val before = files()
    // region × residual update: only grp=4's groups rewrite
    t.updateWhere(col("grp") === 4 && col("v") < 500L,
      Map("name" -> lit("upd"), "v" -> (col("v") + 1L)))
    val got = canon(t.read())
    val expect = (1 to 100).map { i =>
      if (i % 10 == 4 && i * 10 < 500) (i, "upd", 4, i.toLong * 10 + 1)
      else (i, s"n$i", i % 10, i.toLong * 10)
    }.sortBy(x => x)
    assert(got == expect)
    val after = files()
    assert(after.filterNot(_._2 == "4").map(_._1).toSet ==
      before.filterNot(_._2 == "4").map(_._1).toSet,
      "partitions outside the region must keep their exact files")
    assert(t.meta.properties(ManagedTable.BarrierKey).toLong == t.meta.currentVersion)
    // SET moving rows ACROSS partitions: updated rows land in their new tuple
    t.updateWhere(col("grp") === 7, Map("grp" -> lit(8)))
    assert(t.read().filter(col("grp") === 7).count() == 0)
    assert(t.read().filter(col("grp") === 8).count() == 20)
    assert(t.read().count() == 100)
    // region matching nothing: no version burnt
    val v = t.meta.currentVersion
    t.updateWhere(col("grp") === 42, Map("name" -> lit("x")))
    assert(t.meta.currentVersion == v)
    // non-region predicate: full COW, still exact
    t.updateWhere(col("v") === 10L, Map("name" -> lit("one")))
    assert(t.read().filter(col("name") === "one").count() == 1)
  }

  test("keyless delete routing differential: metadata, scoped, and full-COW paths all match the model") {
    // a seeded sweep of predicate shapes across the three routes — each
    // result must equal the plain DataFrame-filter model of the SAME
    // predicate; file-level behavior is covered by the dedicated tests,
    // this pins ROW semantics against routing mistakes between the paths
    val w = wh
    val rnd = new scala.util.Random(7)
    val df = (1 to 120).map(i =>
      (i, if (i % 11 == 0) null else Integer.valueOf(i % 6), i.toLong, s"s${i % 4}"))
      .toDF("id", "grp", "v", "tag")
    def mkPred(): org.apache.spark.sql.Column = {
      val region = rnd.nextInt(4) match {
        case 0 => col("grp") === rnd.nextInt(7)
        case 1 => col("grp").isin(rnd.nextInt(6), rnd.nextInt(6))
        case 2 => col("grp") > rnd.nextInt(5)
        case 3 => col("grp").isNull
      }
      rnd.nextInt(3) match {
        case 0 => region                           // metadata route
        case 1 => region && col("v") % 3 === 0     // scoped route
        case 2 => region || col("tag") === "s1"    // full-COW route (OR)
      }
    }
    (1 to 12).foreach { k =>
      val t = ManagedTable.create(spark, w, s"rdiff$k", df.schema, Seq.empty,
        Seq("grp", "bucket(2, id)"))
      t.append(df)
      val pred = mkPred()
      val expected = df.filter(!coalesce(pred, lit(false)))
        .select("id").as[Int].collect().toSet
      t.deleteWhere(pred)
      val got = t.read().select("id").as[Int].collect().toSet
      assert(got == expected, s"route divergence for predicate #$k: $pred")
    }
  }

  test("keyed metadata region delete: manifest diff (MoR groups included), barrier, tombstone opt-out agrees") {
    val w = wh
    def mk(name: String, props: Map[String, String]): ManagedTable = {
      val df = (1 to 100).map(i => (i, s"n$i", i % 10, i.toLong * 10)).toDF("id", "name", "grp", "v")
      val t = ManagedTable.create(spark, w, name, df.schema, Seq("id"), Seq("grp"),
        properties = props)
      t.append(df)
      // a genuine MoR state: upsert groups in every partition
      t.updateWhere(col("id") % 4 === 0, Map("v" -> (col("v") + 1L)))
      t
    }
    val t = mk("krd", Map.empty)
    val v0 = t.meta.currentVersion
    val pre = canon(t.read())
    val before = t.filesMetadata().select("path", "kind").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(before.exists(_._2 == "upsert"), "setup must leave live upsert groups")
    t.deleteWhere(col("grp").isin(3, 7))
    val after = t.filesMetadata().select("path", "kind").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(after.subsetOf(before) && after.nonEmpty,
      "keyed region delete must drop entries, never rewrite survivors")
    assert(after.exists(_._2 == "upsert"),
      "surviving partitions keep their MoR upsert groups untouched")
    assert(t.meta.properties(ManagedTable.BarrierKey).toLong == t.meta.currentVersion,
      "rows vanished without tombstones — the barrier must be stamped")
    assert(canon(t.readVersion(v0)) == pre, "time travel sees the pre-delete state")
    // the tombstone opt-out: same delete through MoR tombstones, same rows
    val t2 = mk("krd2", Map("delete.keyed-region-mode" -> "tombstone"))
    val files2 = t2.filesMetadata().select("path").as[String].collect().toSet
    t2.deleteWhere(col("grp").isin(3, 7))
    assert(files2.subsetOf(
        t2.filesMetadata().select("path").as[String].collect().toSet),
      "tombstone mode must keep every pre-delete group (MoR, no drop)")
    assert(!t2.meta.properties.get(ManagedTable.BarrierKey)
        .exists(_.toLong == t2.meta.currentVersion),
      "tombstone deletes are changelog-precise — no barrier")
    assert(canon(t.read()) == canon(t2.read()),
      "metadata and tombstone routes must agree on rows")
  }

  test("keyed pure-region overwriteWhere: manifest drop + batch write, tombstone opt-out agrees") {
    val w = wh
    def mk(name: String, props: Map[String, String]): ManagedTable = {
      val df = (1 to 100).map(i => (i, s"n$i", i % 10, i.toLong * 10)).toDF("id", "name", "grp", "v")
      val t = ManagedTable.create(spark, w, name, df.schema, Seq("id"), Seq("grp"),
        properties = props)
      t.append(df)
      t.updateWhere(col("id") % 4 === 0, Map("v" -> (col("v") + 1L))) // MoR state
      t
    }
    val batch = Seq((1001, "a", 3, 5L), (1002, "b", 7, 6L))
      .toDF("id", "name", "grp", "v")
    val t = mk("krow", Map.empty)
    // the MoR state must OVERLAP the dropped region: id%4==0 touches
    // only even grps, so upsert the region's partitions explicitly too
    t.updateWhere(col("id") % 10 === 3, Map("v" -> (col("v") + 2L))) // grp 3
    assert(t.filesMetadata().filter(col("kind") === "upsert")
      .select("partition").collect()
      .exists(_.getMap[String, String](0).get("grp").contains("3")),
      "precondition: a live upsert group inside the dropped region")
    val before = t.filesMetadata().select("path", "partition").collect()
      .map(r => r.getString(0) -> r.getMap[String, String](1).get("grp").orNull)
    t.overwriteWhere(col("grp").isin(3, 7), batch)
    val after = t.filesMetadata().select("path", "partition").collect()
      .map(r => r.getString(0) -> r.getMap[String, String](1).get("grp").orNull)
    assert(after.filterNot(p => p._2 == "3" || p._2 == "7").map(_._1).toSet ==
      before.filterNot(p => p._2 == "3" || p._2 == "7").map(_._1).toSet,
      "untouched partitions must keep their exact files")
    assert(after.filter(p => p._2 == "3" || p._2 == "7").map(_._1)
      .forall(p => !before.map(_._1).toSet.contains(p)),
      "the region must hold only the batch's fresh files")
    assert(t.meta.properties(ManagedTable.BarrierKey).toLong == t.meta.currentVersion,
      "rows vanished without tombstones — barrier required")
    // the tombstone opt-out produces the same rows, keeps every group
    val t2 = mk("krow2", Map("delete.keyed-region-mode" -> "tombstone"))
    val files2 = t2.filesMetadata().select("path").as[String].collect().toSet
    t2.overwriteWhere(col("grp").isin(3, 7), batch)
    assert(files2.subsetOf(
      t2.filesMetadata().select("path").as[String].collect().toSet))
    assert(canon(t.read()) == canon(t2.read()),
      "drop and tombstone overwrite routes must agree on rows")
    // mixed predicate on a keyed table still takes tombstones (exact)
    val v = t.meta.currentVersion
    t.overwriteWhere(col("grp") === 5 && col("v") < 500L,
      Seq((1003, "c", 5, 7L)).toDF("id", "name", "grp", "v"))
    assert(t.meta.currentVersion == v + 1)
    assert(t.read().filter(col("grp") === 5 && col("v") < 500L && col("id") < 1000).count() == 0)
    // a FULL-region predicate (every live tuple affected) keeps the drop
    // — no tombstone cliff on the whole-table backfill shape
    val t3 = mk("krow3", Map.empty)
    val b3 = t3.filesMetadata().select("path").as[String].collect().toSet
    t3.overwriteWhere(col("grp") >= 0, batch)
    val a3 = t3.filesMetadata().select("path").as[String].collect().toSet
    assert(a3.intersect(b3).isEmpty && a3.nonEmpty,
      "full-region keyed overwrite must drop every old group, never tombstone")
    assert(t3.read().count() == 2)
  }

  test("keyed delete routing differential: metadata, tombstone and mixed-predicate paths match the model") {
    val w = wh
    val rnd = new scala.util.Random(13)
    val df = (1 to 120).map(i =>
      (i, if (i % 11 == 0) null else Integer.valueOf(i % 6), i.toLong, s"s${i % 4}"))
      .toDF("id", "grp", "v", "tag")
    def mkPred(): org.apache.spark.sql.Column = {
      val region = rnd.nextInt(4) match {
        case 0 => col("grp") === rnd.nextInt(7)
        case 1 => col("grp").isin(rnd.nextInt(6), rnd.nextInt(6))
        case 2 => col("grp") > rnd.nextInt(5)
        case 3 => col("grp").isNull
      }
      rnd.nextInt(3) match {
        case 0 => region                           // keyed metadata route
        case 1 => region && col("v") % 3 === 0     // MoR tombstone route
        case 2 => region || col("tag") === "s1"    // MoR tombstone route (OR)
      }
    }
    (1 to 12).foreach { k =>
      val t = ManagedTable.create(spark, w, s"krdiff$k", df.schema, Seq("id"),
        Seq("grp", "bucket(2, id)"))
      t.append(df)
      val pred = mkPred()
      val expected = df.filter(!coalesce(pred, lit(false)))
        .select("id").as[Int].collect().toSet
      t.deleteWhere(pred)
      val got = t.read().select("id").as[Int].collect().toSet
      assert(got == expected, s"keyed route divergence for predicate #$k: $pred")
    }
  }

  test("overwritePartitions stamps the changelog barrier: incremental consumers reseed") {
    val w = wh
    val t = seed(w, "dpo2", partitionBy = Seq("grp"))
    val mv = MaterializedView.create(spark, w, "dpo2_by_grp", t, Seq("grp"), Seq("v"))
    // replace partition grp=3 (10 rows) with a single row — rows vanish
    // WITHOUT tombstones, so a changelog-incremental refresh would keep
    // them; the barrier must force the MV to rebuild instead
    t.overwritePartitions(Seq((1001, "x", 3, 7L)).toDF("id", "name", "grp", "v"))
    assert(t.meta.properties(ManagedTable.BarrierKey).toLong == t.meta.currentVersion,
      "dynamic partition overwrite must stamp the changelog barrier")
    mv.refresh()
    def canonAgg(df: DataFrame) =
      df.select(col("grp").cast("string"), col("sum_v").cast("long"), col("n_rows").cast("long"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(x => x).toSeq
    val recompute = t.read().groupBy("grp")
      .agg(sum("v").as("sum_v"), count(lit(1)).as("n_rows"))
    assert(canonAgg(mv.read()) == canonAgg(recompute),
      "MV diverged across overwritePartitions — replaced rows leaked through the changelog")
    assert(canonAgg(mv.read()).exists { case (g, s, n) => g == "3" && s == 7L && n == 1L })
  }

  test("trickle merge: a small source probes its exact key list; results exact across paths") {
    val w = java.nio.file.Files.createTempDirectory("graft-dml-tm").toString
    val df = (1 to 400).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val t = ManagedTable.create(spark, w, "tm", df.schema, Seq("id"),
      properties = Map("write.mor.compact-after-upserts" -> "0"))
    // id-chunked appends => tight per-group key bounds
    (0 until 4).foreach { k =>
      t.append(df.filter(col("id") > k * 100L && col("id") <= (k + 1) * 100L))
    }
    t.buildBlooms(Seq("id"))
    // SMALL source (key-list probe path): scattered keys across chunks —
    // update two live keys, delete one, insert one new
    t.mergeInto(
      Seq((5L, "u5"), (305L, "u305"), (77L, "del"), (999L, "new"))
        .toDF("id", "v"),
      deleteWhen = Some(col("s.v") === "del"))
    val got = t.read().collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got(5L) == "u5" && got(305L) == "u305" && got(999L) == "new")
    assert(!got.contains(77L) && got.size == 400, s"size=${got.size}")
    // LARGE source (range path, > 64 rows): same machinery, same answer
    val big = (1 to 80).map(i => (i.toLong, s"b$i")).toDF("id", "v")
    t.mergeInto(big)
    val got2 = t.read().collect().map(r => (r.getLong(0), r.getString(1))).toMap
    // key 77 was deleted above, so the big merge RE-INSERTS it: 401 rows
    assert((1 to 80).forall(i => got2(i.toLong) == s"b$i") && got2.size == 401)
    // empty source: no-op, no version burned
    val v0 = t.meta.currentVersion
    t.mergeInto(big.limit(0))
    assert(t.meta.currentVersion == v0)
  }
}

/** Call counter of the non-deterministic merge source above (one JVM in local mode). */
object NonDeterministicSource {
  val calls = new java.util.concurrent.atomic.AtomicLong()
}
