package graft.streaming

import graft.SharedSpark
import graft.cdc.EventFactory
import graft.tables.ManagedTable
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class CdcPipelineSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private def writeEvents(dir: String, file: String, events: Seq[(String, String, String)]): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val lines = events.map { case (d, k, v) =>
      val n = mapper.createObjectNode()
      n.put("destination", d); n.put("key", k); n.put("value", v)
      mapper.writeValueAsString(n)
    }
    Files.write(java.nio.file.Paths.get(dir, file), lines.mkString("\n").getBytes)
  }

  test("end-to-end: two destinations, upsert + heartbeat skip, via streaming") {
    val root = Files.createTempDirectory("graft-e2e").toString
    val src = s"$root/events"; Files.createDirectories(java.nio.file.Paths.get(src))
    val cfg = PipelineConfig(warehouse = s"$root/wh", keepDeletes = false, concurrentTables = 2)

    writeEvents(src, "b1.json", Seq(
      EventFactory.event(1, "alice", "c", 100L),
      EventFactory.event(2, "bob", "c", 100L),
      EventFactory.event(1, "alice2", "u", 200L),
      EventFactory.event(7, "ord", "c", 100L, destination = "testc.inventory.orders"),
      ("__debezium-heartbeat.x", "{}", "{}")
    ))
    val q = CdcPipeline.start(spark, src, s"$root/cp", cfg)
    q.awaitTermination(120000)

    val customers = ManagedTable.load(spark, cfg.warehouse, "testc_inventory_customers").get
    val out = customers.read().orderBy("id")
      .select("id", "first_name").collect().map(r => (r.getInt(0), r.getString(1)))
    assert(out.toSeq == Seq((1, "alice2"), (2, "bob")))
    val orders = ManagedTable.load(spark, cfg.warehouse, "testc_inventory_orders").get
    assert(orders.read().count() == 1)
    assert(ManagedTable.load(spark, cfg.warehouse, "__debezium_heartbeat_x").isEmpty)

    // second micro-batch: delete + schema evolution via a new field
    val evolvedSchema = EventFactory.customerValueSchema.replace(
      """{"field":"__deleted","type":"boolean","optional":true}""",
      """{"field":"__deleted","type":"boolean","optional":true},{"field":"email","type":"string","optional":true}""")
    val key3 = s"""{"schema":${EventFactory.customerKeySchema},"payload":{"id":3}}"""
    val val3 = s"""{"schema":$evolvedSchema,"payload":{"id":3,"first_name":"carol","email":"c@x.io","__op":"c","__source_ts_ns":300,"__source_ts_ms":0,"__deleted":false}}"""
    writeEvents(src, "b2.json", Seq(
      ("testc.inventory.customers", key3, val3),
      EventFactory.event(2, null, "d", 400L)
    ))
    val q2 = CdcPipeline.start(spark, src, s"$root/cp", cfg)
    q2.awaitTermination(120000)

    // T2/T3 parity: the queryable offset row advanced with the second batch,
    // and the evolution wrote a schema-history record
    val offs = graft.tables.ParityStores.loadOffsets(spark, cfg.warehouse)
    assert(offs.exists(_.get("batchId").contains("1")),
      s"offset parity row should advance past batch 0 on the checkpoint-resumed query, got $offs")
    val hist = graft.tables.ParityStores.recoverHistory(spark, cfg.warehouse)
    assert(hist.exists(_.contains("email")),
      s"schema evolution must append a history record, got $hist")

    val after = ManagedTable.load(spark, cfg.warehouse, "testc_inventory_customers").get
    val rows = after.read().orderBy("id")
      .select("id", "first_name", "email").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    assert(rows.toSeq == Seq((1, "alice2", null), (3, "carol", "c@x.io")))
  }

  test("scd2History sidecar: streamed batches maintain the validity-interval history table") {
    val root = Files.createTempDirectory("graft-scd2").toString
    val src = s"$root/events"; Files.createDirectories(java.nio.file.Paths.get(src))
    val cfg = PipelineConfig(warehouse = s"$root/wh", keepDeletes = false,
      scd2History = true)

    writeEvents(src, "b1.json", Seq(
      EventFactory.event(1, "alice", "c", 100L),
      EventFactory.event(1, "alice2", "u", 200L),
      EventFactory.event(2, "bob", "c", 100L)))
    CdcPipeline.start(spark, src, s"$root/cp", cfg).awaitTermination(120000)
    writeEvents(src, "b2.json", Seq(
      EventFactory.event(1, "alice3", "u", 300L),
      EventFactory.event(2, null, "d", 400L)))
    CdcPipeline.start(spark, src, s"$root/cp", cfg).awaitTermination(120000)

    // main table still the latest state
    val main = ManagedTable.load(spark, cfg.warehouse, "testc_inventory_customers").get
    assert(main.read().orderBy("id").select("first_name").collect()
      .map(_.getString(0)).toSeq == Seq("alice3"))

    // sidecar: every version as an interval; delete closed bob, emitted nothing
    val hist = ManagedTable.load(spark, cfg.warehouse, "testc_inventory_customers_history").get
    val rows = hist.read()
      .select("id", "first_name", "valid_from", "valid_to", "is_current")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getBoolean(4))).toSet
    assert(rows == Set(
      (1, "alice", 100L, Some(200L), false),
      (1, "alice2", 200L, Some(300L), false),
      (1, "alice3", 300L, None, true),
      (2, "bob", 100L, Some(400L), false)), rows)

    // a LATER batch carrying the same (key, seq) — within the no-regression
    // contract — must supersede the open row deterministically, not collide
    // with it on the history key or lose a version
    writeEvents(src, "b3.json", Seq(EventFactory.event(1, "alice3b", "u", 300L)))
    CdcPipeline.start(spark, src, s"$root/cp", cfg).awaitTermination(120000)
    // fresh handle: the earlier one pins the pre-b3 snapshot pointer
    val after = ManagedTable
      .load(spark, cfg.warehouse, "testc_inventory_customers_history").get.read()
      .select("id", "first_name", "valid_from", "valid_to", "is_current")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getBoolean(4))).toSet
    assert(after.contains((1, "alice3b", 300L, None, true)),
      s"later batch at equal seq must win: $after")
    assert(after.contains((1, "alice3", 300L, Some(300L), false)),
      s"superseded row must close as an empty interval, not vanish: $after")
  }

  test("checkpoint makes batches exactly-once across restarts (T2/T3)") {
    val root = Files.createTempDirectory("graft-ckpt").toString
    val src = s"$root/events"; Files.createDirectories(java.nio.file.Paths.get(src))
    val cfg = PipelineConfig(warehouse = s"$root/wh", upsert = false)
    writeEvents(src, "b1.json", Seq(EventFactory.event(1, "a", "c", 1L)))
    CdcPipeline.start(spark, src, s"$root/cp", cfg).awaitTermination(120000)
    // restart with no new files: nothing re-applied (append mode would dup)
    CdcPipeline.start(spark, src, s"$root/cp", cfg).awaitTermination(120000)
    val t = ManagedTable.load(spark, cfg.warehouse, "testc_inventory_customers").get
    assert(t.read().count() == 1)
  }

  test("append mode: a replayed batch id lands exactly once — including partitioned destinations") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-replay").toString
    // partition the destination: replay markers must ride the partitioned
    // manifest commit too (every commit is a snapshot now)
    val cfg = PipelineConfig(warehouse = s"$root/wh", upsert = false,
      partitionBy = Map("*" -> Seq("bucket(2,id)")))
    val batch = Seq(
      EventFactory.event(1, "a", "c", 1L),
      EventFactory.event(2, "b", "c", 1L)
    ).toDF("destination", "key", "value")
    CdcPipeline.processBatch(spark, batch, cfg, batchId = 0L)
    // the crash-window replay: same batch id re-delivered
    CdcPipeline.processBatch(spark, batch, cfg, batchId = 0L)
    val t = ManagedTable.load(spark, cfg.warehouse, "testc_inventory_customers").get
    assert(t.read().count() == 2, "replayed append batch landed twice")
    assert(t.meta.properties(CdcPipeline.CdcBatchIdProp) == "0")
    // the next batch id still lands
    CdcPipeline.processBatch(spark,
      Seq(EventFactory.event(3, "c", "c", 2L)).toDF("destination", "key", "value"),
      cfg, batchId = 1L)
    assert(ManagedTable.load(spark, cfg.warehouse, "testc_inventory_customers").get
      .read().count() == 3)
  }

  test("a failing destination fails the whole batch (offsets not committed)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-fail").toString
    val cfg = PipelineConfig(warehouse = s"$root/wh", concurrentTables = 2)
    // destination B carries only schema-less envelopes → inference throws →
    // the batch must propagate the failure (reference: all-tables-or-retry,
    // SINK/IcebergChangeConsumer.java:258-300)
    val batch = Seq(
      EventFactory.event(1, "ok", "c", 1L),
      ("bad.dest", """{"schema":null,"payload":null}""", """{"schema":null,"payload":null}""")
    ).map { case (d, k, v) => (d, k, v) }.toDF("destination", "key", "value")
    val ex = intercept[Exception] {
      CdcPipeline.processBatch(spark, batch, cfg)
    }
    assert(ex.getMessage.contains("no usable embedded value schema"), ex.getMessage)
  }

  test("decode runs once per destination per batch (observe, not recount)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-once").toString
    // pin to the DISTRIBUTED path: this test guards its no-recount
    // invariant (the small-batch path executes on a tuned clone session
    // this listener doesn't observe)
    val cfg = PipelineConfig(warehouse = s"$root/wh", smallBatchMaxRows = 0)
    val decodes = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        if (qe.optimizedPlan.toString.contains("from_json")) decodes.incrementAndGet()
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val batch = Seq(
        EventFactory.event(1, "a", "c", 1L),
        EventFactory.event(2, "b", "c", 1L)
      ).toDF("destination", "key", "value")
      val written = CdcPipeline.processBatch(spark, batch, cfg)
      assert(written.values.sum == 2)
      // listener bus is async: give it a moment to drain, then require that
      // the from_json pipeline executed exactly once (merge write), not a
      // second time for the row count
      val deadline = System.nanoTime() + 10e9.toLong
      while (decodes.get() < 1 && System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(500)
      assert(decodes.get() == 1, s"expected exactly 1 decode execution, saw ${decodes.get()}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("progress listener T4 observes batch row counts") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val listener = CdcPipeline.attachProgressLogger(spark)
    try {
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
      val q = mem.toDF().writeStream.format("noop").start()
      mem.addData(1, 2, 3)
      q.processAllAvailable()
      q.stop()
      // listener logged without throwing; the metric path is progress events
      assert(q.recentProgress.map(_.numInputRows).sum == 3)
    } finally spark.streams.removeListener(listener)
  }

  test("archive mode W9 writes raw events partitioned by destination+hour") {
    val root = Files.createTempDirectory("graft-arch").toString
    val src = s"$root/events"; Files.createDirectories(java.nio.file.Paths.get(src))
    val cfg = PipelineConfig(warehouse = s"$root/wh", archiveEvents = true)
    writeEvents(src, "b1.json", Seq(
      EventFactory.event(1, "a", "c", 1L), EventFactory.event(2, "b", "c", 1L)))
    CdcPipeline.start(spark, src, s"$root/cp", cfg).awaitTermination(120000)
    val arch = ManagedTable.load(spark, cfg.warehouse, "debezium_events").get
    assert(arch.read().count() == 2)
    // partitioned by destination + hour: tuples recorded in the manifest
    val tuples = arch.partitions()
    assert(tuples.nonEmpty && tuples.forall(t =>
      t.contains("event_destination") && t.contains("event_sink_timestamptz_hour")), tuples.toString)
  }

  test("F12 e2e: nested-as-variant pipeline writes VariantType columns readable from the table") {
    import org.apache.spark.sql.functions.{col, try_variant_get}
    import org.apache.spark.sql.types.VariantType
    val root = Files.createTempDirectory("graft-variant").toString
    val rowFields =
      """[{"field":"id","type":"int32","optional":false},{"field":"first_name","type":"string","optional":true}]"""
    val valueSchema =
      s"""{"type":"struct","fields":[{"field":"before","type":"struct","optional":true,"fields":$rowFields},{"field":"after","type":"struct","optional":true,"fields":$rowFields},{"field":"source","type":"struct","optional":true,"fields":[{"field":"ts_ms","type":"int64","optional":true}]},{"field":"op","type":"string","optional":false}]}"""
    def value(id: Int, name: String, op: String): String =
      s"""{"schema":$valueSchema,"payload":{"before":null,"after":{"id":$id,"first_name":"$name"},"source":{"ts_ms":100},"op":"$op"}}"""
    val batch = Seq(
      ("testc.inventory.customers", s"""{"schema":${EventFactory.customerKeySchema},"payload":{"id":1}}""", value(1, "alice", "c")),
      ("testc.inventory.customers", s"""{"schema":${EventFactory.customerKeySchema},"payload":{"id":2}}""", value(2, "bob", "c"))
    ).toDF("destination", "key", "value")
    val cfg = PipelineConfig(warehouse = s"$root/wh",
      mapping = graft.cdc.SchemaMappingConfig(nestedAsVariant = true))
    val written = CdcPipeline.processBatch(spark, batch, cfg)
    assert(written.values.sum == 2)
    val t = ManagedTable.load(spark, cfg.warehouse, "testc_inventory_customers").get
    assert(t.meta.schema("after").dataType == VariantType,
      "table schema must persist the variant column")
    val names = t.read()
      .select(try_variant_get(col("after"), "$.first_name", "string").as("n"))
      .collect().map(_.getString(0)).sorted.toSeq
    assert(names == Seq("alice", "bob"))
  }

  test("dead-letter policy quarantines corrupt envelopes; clean rows still apply") {
    val root = Files.createTempDirectory("graft-dlq").toString
    val src = s"$root/events"; Files.createDirectories(java.nio.file.Paths.get(src))
    val cfg = PipelineConfig(warehouse = s"$root/wh", keepDeletes = false,
      nullKeyPolicy = graft.cdc.CdcApply.NullKeyPolicy.DeadLetter)
    val nullIdVal =
      s"""{"schema":${EventFactory.customerValueSchema},"payload":{"id":null,"first_name":"ghost","__op":"c","__source_ts_ns":5,"__source_ts_ms":0,"__deleted":false}}"""
    val nullIdKey = s"""{"schema":${EventFactory.customerKeySchema},"payload":{"id":null}}"""
    writeEvents(src, "b1.json", Seq(
      EventFactory.event(1, "alice", "c", 100L),
      ("testc.inventory.customers", nullIdKey, nullIdVal),
      ("testc.inventory.customers", "garbage-key", "this is not an envelope")))
    CdcPipeline.start(spark, src, s"$root/cp", cfg).awaitTermination(120000)

    // the batch SUCCEEDED: the clean row is applied
    val customers = ManagedTable.load(spark, cfg.warehouse, "testc_inventory_customers").get
    assert(customers.read().select("id").collect().map(_.getInt(0)).toSeq == Seq(1))

    // both corrupt envelopes are quarantined with their raw evidence
    val dlq = ManagedTable.load(spark, cfg.warehouse, cfg.deadLetterTable).get.read()
    assert(dlq.count() == 2, "both corrupt envelopes must be dead-lettered")
    val values = dlq.select("event_value").collect().map(_.getString(0)).toSet
    assert(values.exists(_.contains("ghost")) && values.contains("this is not an envelope"))
    val errs = dlq.select("error").collect().map(_.getString(0)).toSet
    assert(errs.forall(_.contains("null identifier field")))

    // Fail policy on the same input fails the batch (reference contract)
    val cfg2 = cfg.copy(warehouse = s"$root/wh2",
      nullKeyPolicy = graft.cdc.CdcApply.NullKeyPolicy.Fail)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      CdcPipeline.start(spark, src, s"$root/cp2", cfg2).awaitTermination(120000)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("null identifier field")))
  }

  test("expectation rules quarantine decoded rows to the DLQ; clean rows apply") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft-exp-dlq").toString
    val src = s"$root/events"; Files.createDirectories(java.nio.file.Paths.get(src))
    val cfg = PipelineConfig(warehouse = s"$root/wh", keepDeletes = false,
      expectations = Seq(
        graft.operators.Expectations.Rule("name_present", col("first_name").isNotNull),
        graft.operators.Expectations.Rule("name_not_evil",
          col("first_name") =!= "evil")))
    writeEvents(src, "b1.json", Seq(
      EventFactory.event(1, "alice", "c", 100L),
      EventFactory.event(2, "evil", "c", 101L),  // violates name_not_evil
      EventFactory.event(3, "bob", "c", 102L)))
    CdcPipeline.start(spark, src, s"$root/cp", cfg).awaitTermination(120000)
    val customers = ManagedTable.load(spark, cfg.warehouse, "testc_inventory_customers").get
    assert(customers.read().select("id").collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 3))
    val dlq = ManagedTable.load(spark, cfg.warehouse, cfg.deadLetterTable).get.read()
    assert(dlq.count() == 1)
    val r = dlq.collect()(0)
    assert(r.getAs[String]("error") == "name_not_evil")
    assert(r.getAs[String]("event_value").contains("\"evil\""))
    assert(r.getAs[String]("event_destination") == "testc_inventory_customers")
  }

  test("DLQ appends are exactly-once under crash replay (per-destination batch marker)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = Files.createTempDirectory("graft-dlq-replay").toString
    val cfg = PipelineConfig(warehouse = s"$root/wh", keepDeletes = false,
      expectations = Seq(
        graft.operators.Expectations.Rule("name_not_evil", col("first_name") =!= "evil")))
    val batch = Seq(
      EventFactory.event(1, "alice", "c", 100L),
      EventFactory.event(2, "evil", "c", 101L))
      .toDF("destination", "key", "value")
    CdcPipeline.processBatch(spark, batch, cfg, batchId = 7L)
    def dlqCount = ManagedTable.load(spark, cfg.warehouse, cfg.deadLetterTable)
      .get.read().count()
    assert(dlqCount == 1)
    // crash replay: destination commit + checkpoint raced — the SAME batch
    // id arrives again; quarantine rows must not double
    CdcPipeline.processBatch(spark, batch, cfg, batchId = 7L)
    assert(dlqCount == 1, "replayed batch duplicated DLQ rows")
    // a genuinely new violating batch still lands
    val batch2 = Seq(EventFactory.event(3, "evil", "c", 102L))
      .toDF("destination", "key", "value")
    CdcPipeline.processBatch(spark, batch2, cfg, batchId = 8L)
    assert(dlqCount == 2)
    // the null-key quarantine producer is replay-exactly-once too, with
    // its own marker scope (both producers may fire for one batch)
    val cfg2 = cfg.copy(nullKeyPolicy = graft.cdc.CdcApply.NullKeyPolicy.DeadLetter)
    val nullKeyEv = ("testc.inventory.customers",
      s"""{"schema":${EventFactory.customerKeySchema},"payload":{"id":null}}""",
      EventFactory.event(9, "evil", "c", 103L)._3
        .replace(""""id":9""", """"id":null"""))
    val batch3 = Seq(nullKeyEv).toDF("destination", "key", "value")
    CdcPipeline.processBatch(spark, batch3, cfg2, batchId = 9L)
    val afterFirst = dlqCount
    assert(afterFirst >= 3, s"null-key + expectation quarantines expected, got $afterFirst")
    CdcPipeline.processBatch(spark, batch3, cfg2, batchId = 9L)
    assert(dlqCount == afterFirst, "replayed null-key batch duplicated DLQ rows")
  }

  test("W11: per-table operation timeout fails the batch; fast tables still complete") {
    import scala.concurrent.duration._
    // under the timeout: completes
    val ok = CdcPipeline.parallelize(Seq(1, 2), 2, 5.seconds)(i => i * 10)
    assert(ok == Seq(10, 20))
    // a hung table operation trips the per-table timeout (reference
    // BatchConfig-style upload timeout) instead of blocking forever
    val ex = intercept[java.util.concurrent.TimeoutException] {
      CdcPipeline.parallelize(Seq(1, 2), 2, 200.millis) { i =>
        if (i == 2) Thread.sleep(60000); i
      }
    }
    assert(ex.getMessage.contains("failing the batch"))
    // the timeout must also bite on the sequential fast path (parallelism=1
    // and/or single destination) — the common one-table stream
    intercept[java.util.concurrent.TimeoutException] {
      CdcPipeline.parallelize(Seq(1), 1, 200.millis) { _ => Thread.sleep(60000); 1 }
    }
  }

  test("trickle fast path ≡ distributed path: same events, same table state") {
    // The same event stream — dupes, a delete, a second batch with schema
    // evolution — through the driver-side small-batch pipeline and through
    // the distributed one (both small-batch knobs zeroed). The destination
    // tables must be byte-equal in content.
    val events1 = Seq(
      EventFactory.event(1, "alice", "c", 100L),
      EventFactory.event(1, "alice2", "u", 200L),
      EventFactory.event(2, "bob", "c", 100L),
      EventFactory.event(9, "x", "c", 100L, destination = "testc.inventory.orders"),
      ("__debezium-heartbeat.x", "{}", "{}"))
    val events2 = Seq(
      EventFactory.event(2, null, "d", 300L),
      EventFactory.event(3, "carol", "c", 300L))
    def run(cfg: PipelineConfig, root: String): Unit = {
      val src = s"$root/events"; Files.createDirectories(java.nio.file.Paths.get(src))
      writeEvents(src, "b1.json", events1)
      CdcPipeline.start(spark, src, s"$root/cp", cfg).awaitTermination(120000)
      writeEvents(src, "b2.json", events2)
      CdcPipeline.start(spark, src, s"$root/cp", cfg).awaitTermination(120000)
    }
    val rootF = Files.createTempDirectory("graft-fastpath").toString
    val rootS = Files.createTempDirectory("graft-slowpath").toString
    run(PipelineConfig(warehouse = s"$rootF/wh", keepDeletes = false,
      concurrentTables = 2), rootF)
    run(PipelineConfig(warehouse = s"$rootS/wh", keepDeletes = false,
      concurrentTables = 2, smallBatchMaxRows = 0, smallBatchMaxBytes = 0), rootS)
    for (t <- Seq("testc_inventory_customers", "testc_inventory_orders")) {
      val fast = ManagedTable.load(spark, s"$rootF/wh", t).get.read()
      val slow = ManagedTable.load(spark, s"$rootS/wh", t).get.read()
      assert(fast.schema == slow.schema, s"$t schema diverged")
      val f = fast.orderBy("id").collect().map(_.toSeq).toSeq
      val s = slow.orderBy("id").collect().map(_.toSeq).toSeq
      assert(f == s, s"$t content diverged: fast=$f slow=$s")
    }
  }

  /** Destination-table contents of a warehouse, by table name. */
  private def tables(wh: String, names: Seq[String]): Map[String, Seq[Seq[Any]]] =
    names.map { n =>
      n -> ManagedTable.load(spark, wh, n).get.read().orderBy("id").collect()
        .map(_.toSeq).toSeq
    }.toMap

  test("default concurrency: destinations mapped to one table share a worker; equals sequential") {
    val batch = Seq(
      EventFactory.event(1, "o1", "c", 100L, destination = "db.Orders"),
      EventFactory.event(2, "o2", "c", 100L, destination = "db.Orders"),
      EventFactory.event(3, "o3", "c", 100L, destination = "db.Orders"),
      EventFactory.event(3, "o3b", "u", 200L, destination = "db.orders"),
      EventFactory.event(4, "o4", "c", 200L, destination = "db.orders"),
      EventFactory.event(1, "c1", "c", 100L, destination = "db.customers"),
      EventFactory.event(2, "c2", "c", 100L, destination = "db.customers"))
      .toDF("destination", "key", "value")
    // both the driver-side small-batch path and the distributed path
    for (smallRows <- Seq(20000, 0)) {
      val root = Files.createTempDirectory("graft-fold").toString
      val conc = PipelineConfig(warehouse = s"$root/conc", keepDeletes = false,
        smallBatchMaxRows = smallRows)
      assert(conc.concurrentTables == 0)
      val seq = conc.copy(warehouse = s"$root/seq", concurrentTables = 1)
      val written = CdcPipeline.processBatch(spark, batch, conc, batchId = 0L)
      assert(written == Map("db.Orders" -> 3L, "db.orders" -> 2L, "db.customers" -> 2L))
      CdcPipeline.processBatch(spark, batch, seq, batchId = 0L)
      val names = Seq("db_orders", "db_customers")
      val got = tables(conc.warehouse, names)
      assert(got == tables(seq.warehouse, names))
      assert(got("db_orders").map(r => (r(0), r(1))) ==
        Seq((1, "o1"), (2, "o2"), (3, "o3b"), (4, "o4")), got("db_orders"))
    }
  }

  test("default concurrency: a multi-destination, multi-batch stream equals the sequential run") {
    val evolvedSchema = EventFactory.customerValueSchema.replace(
      """{"field":"__deleted","type":"boolean","optional":true}""",
      """{"field":"__deleted","type":"boolean","optional":true},{"field":"email","type":"string","optional":true}""")
    val key5 = s"""{"schema":${EventFactory.customerKeySchema},"payload":{"id":5}}"""
    val val5 = s"""{"schema":$evolvedSchema,"payload":{"id":5,"first_name":"eve","email":"e@x.io","__op":"c","__source_ts_ns":300,"__source_ts_ms":0,"__deleted":false}}"""
    val dests = Seq("inv.customers", "inv.orders", "inv.items")
    val files = Seq(
      dests.flatMap(d => (1 to 4).map(i => EventFactory.event(i, s"$d-$i", "c", 100L, d))),
      dests.flatMap(d => Seq(EventFactory.event(2, s"$d-2b", "u", 200L, d),
        EventFactory.event(3, null, "d", 200L, d))) :+ (("inv.customers", key5, val5)),
      dests.flatMap(d => Seq(EventFactory.event(1, s"$d-1c", "u", 300L, d),
        EventFactory.event(6, s"$d-6", "c", 300L, d))))
    def run(cfg: PipelineConfig, root: String): Unit = {
      val src = s"$root/events"; Files.createDirectories(java.nio.file.Paths.get(src))
      // the file source orders a trigger's files by modification time
      files.zipWithIndex.foreach { case (f, i) =>
        writeEvents(src, s"b$i.json", f)
        new java.io.File(src, s"b$i.json").setLastModified(1000000000000L + i * 60000L)
      }
      CdcPipeline.start(spark, src, s"$root/cp", cfg, maxFilesPerTrigger = Some(1))
        .awaitTermination(120000)
    }
    val rootC = Files.createTempDirectory("graft-conc").toString
    val rootS = Files.createTempDirectory("graft-seq").toString
    run(PipelineConfig(warehouse = s"$rootC/wh", keepDeletes = false), rootC)
    run(PipelineConfig(warehouse = s"$rootS/wh", keepDeletes = false,
      concurrentTables = 1), rootS)
    val names = Seq("inv_customers", "inv_orders", "inv_items")
    val got = tables(s"$rootC/wh", names)
    assert(got == tables(s"$rootS/wh", names))
    assert(got("inv_items").map(r => (r(0), r(1))) ==
      Seq((1, "inv.items-1c"), (2, "inv.items-2b"), (4, "inv.items-4"), (6, "inv.items-6")))
    assert(got("inv_customers").exists(_.contains("e@x.io")))
    assert(graft.tables.ParityStores.loadOffsets(spark, s"$rootC/wh")
      .flatMap(_.get("batchId")).contains("2"))
  }

  test("default concurrency: one failing table fails the batch; the fixed replay lands every table once") {
    val nullIdVal =
      s"""{"schema":${EventFactory.customerValueSchema},"payload":{"id":null,"first_name":"ghost","__op":"c","__source_ts_ns":5,"__source_ts_ms":0,"__deleted":false}}"""
    val nullIdKey = s"""{"schema":${EventFactory.customerKeySchema},"payload":{"id":null}}"""
    // a keyless destination takes the append path, whose replay marker
    // is what keeps a re-run batch from landing twice
    val logVal = (i: Int) => EventFactory.event(i, s"log$i", "c", 100L)._3
    val b0 = Seq(EventFactory.event(1, "c1", "c", 100L),
      EventFactory.event(1, "o1", "c", 100L, destination = "testc.inventory.orders"),
      ("testc.inventory.log", null, logVal(1)))
    val b1 = Seq(EventFactory.event(2, "c2", "c", 200L),
      ("testc.inventory.customers", nullIdKey, nullIdVal),
      EventFactory.event(2, "o2", "c", 200L, destination = "testc.inventory.orders"),
      ("testc.inventory.log", null, logVal(2)))
    def feed(root: String): String = {
      val src = s"$root/events"; Files.createDirectories(java.nio.file.Paths.get(src))
      // the file source orders a trigger's files by modification time
      for ((b, i) <- Seq(b0, b1).zipWithIndex) {
        writeEvents(src, s"b$i.json", b)
        new java.io.File(src, s"b$i.json").setLastModified(1000000000000L + i * 60000L)
      }
      src
    }
    val root = Files.createTempDirectory("graft-conc-fail").toString
    val src = feed(root)
    val cfg = PipelineConfig(warehouse = s"$root/wh", keepDeletes = false)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      CdcPipeline.start(spark, src, s"$root/cp", cfg, maxFilesPerTrigger = Some(1))
        .awaitTermination(120000)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("null identifier field")))
    assert(graft.tables.ParityStores.loadOffsets(spark, cfg.warehouse)
      .flatMap(_.get("batchId")).contains("0"), "the failed batch advanced the offset row")
    // the fix: replay the same checkpoint with the poison row dropped
    val fixed = cfg.copy(nullKeyPolicy = graft.cdc.CdcApply.NullKeyPolicy.Drop)
    CdcPipeline.start(spark, src, s"$root/cp", fixed, maxFilesPerTrigger = Some(1))
      .awaitTermination(120000)
    assert(graft.tables.ParityStores.loadOffsets(spark, cfg.warehouse)
      .flatMap(_.get("batchId")).contains("1"))
    // reference: the fixed config from the start, sequentially
    val refRoot = Files.createTempDirectory("graft-conc-ref").toString
    CdcPipeline.start(spark, feed(refRoot), s"$refRoot/cp",
      fixed.copy(warehouse = s"$refRoot/wh", concurrentTables = 1),
      maxFilesPerTrigger = Some(1)).awaitTermination(120000)
    val names = Seq("testc_inventory_customers", "testc_inventory_orders",
      "testc_inventory_log")
    val got = tables(cfg.warehouse, names)
    assert(got == tables(s"$refRoot/wh", names))
    assert(got.values.map(_.size).toSeq == Seq(2, 2, 2), got)
  }

  test("default concurrency: query.stop() cancels in-flight table jobs and leaves no worker running") {
    import org.apache.spark.sql.functions.{col, udf}
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("graft-conc-stop").toString
    val src = s"$root/events"; Files.createDirectories(java.nio.file.Paths.get(src))
    writeEvents(src, "b0.json", Seq(
      EventFactory.event(1, "c1", "c", 100L),
      EventFactory.event(1, "o1", "c", 100L, destination = "testc.inventory.orders")))
    SlowRule.inFlight.set(0); SlowRule.peak.set(0)
    // a rule that blocks until its task is interrupted: each table's
    // expectation job stays in flight until the stop cancels it
    // (non-deterministic, so the optimizer cannot fold it into the local
    // relation on the driver: it runs in a task)
    val blocks = udf { (_: Int) =>
      SlowRule.peak.accumulateAndGet(SlowRule.inFlight.incrementAndGet(), math.max)
      try { Thread.sleep(120000); true } finally SlowRule.inFlight.decrementAndGet()
    }.asNondeterministic()
    val cfg = PipelineConfig(warehouse = s"$root/wh",
      expectations = Seq(graft.operators.Expectations.Rule("blocks", blocks(col("id")))))
    val q = CdcPipeline.start(spark, src, s"$root/cp", cfg)
    def eventually(what: String)(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + 60e9.toLong
      while (!cond && System.nanoTime() < deadline) Thread.sleep(50)
      assert(cond, what)
    }
    def workers = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName.startsWith(CdcPipeline.WorkerThreadPrefix))
    val tracker = spark.sparkContext.statusTracker
    def running = tracker.getJobIdsForGroup(q.runId.toString).count(id =>
      tracker.getJobInfo(id).exists(_.status == org.apache.spark.JobExecutionStatus.RUNNING))
    try {
      eventually("both tables' jobs should run at once")(SlowRule.peak.get >= 2)
      // the workers' jobs carry the stream's job group, which stop() cancels
      eventually("the in-flight jobs should belong to the stream")(running >= 2)
    } finally q.stop()
    assert(!q.isActive)
    eventually("cancelled tasks must stop")(SlowRule.inFlight.get == 0)
    eventually(s"no table worker may outlive the stop: $workers")(workers.isEmpty)
    eventually("no job of the stream may still run")(running == 0)
    for (t <- Seq("testc_inventory_customers", "testc_inventory_orders"))
      assert(ManagedTable.load(spark, cfg.warehouse, t).forall(_.read().count() == 0), t)
    assert(graft.tables.ParityStores.loadOffsets(spark, cfg.warehouse).isEmpty)
  }
}

/** In-flight and peak call counts of the blocking expectation rule above. */
object SlowRule {
  val inFlight = new java.util.concurrent.atomic.AtomicInteger()
  val peak = new java.util.concurrent.atomic.AtomicInteger()
}
