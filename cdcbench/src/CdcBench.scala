package cdcbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.catalog.GraftScan
import graft.cdc.{CdcApply, Dedup, DefaultTableMapper, EventDecoder}
import graft.streaming.{CdcPipeline, PipelineConfig}
import graft.tables.ManagedTable

/** The JVM half of the CDC-sink benchmark. It drives the library only
  * through its public surface and writes one JSON result file; `run.py`
  * generates the inputs, checks the ingest tables against its own fold of
  * the generated events, and prints the metrics.
  *
  * Usage: `CdcBench <plan.json> <result.json>`. The plan names the
  * workload, the input directories, the work directory, the count of timed
  * operations and whether this is the traced run.
  */
object CdcBench {
  def main(args: Array[String]): Unit = {
    val mapper = new ObjectMapper()
    val out = mapper.createObjectNode()
    val b = new Bench(mapper.readTree(new File(args(0))), out)
    try b.run()
    catch { case e: Throwable => b.fail(s"run aborted: $e"); e.printStackTrace() }
    finally {
      b.close()
      mapper.writerWithDefaultPrettyPrinter().writeValue(new File(args(1)), out)
    }
  }
}

/** Nearest-rank percentiles; NaN for an empty sample. */
object Stats {
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.max(0, math.ceil(p * s.size).toInt - 1))
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

/** Counts Spark jobs and tasks per micro-batch, keyed by the query and
  * batch ids Structured Streaming stamps on every job it runs.
  */
final class JobCounter extends SparkListener {
  private val jobBatch = mutable.Map.empty[Int, String]
  private val stageJob = mutable.Map.empty[Int, Int]
  val jobs: mutable.Map[String, Int] = mutable.Map.empty[String, Int].withDefaultValue(0)
  val tasks: mutable.Map[String, Int] = mutable.Map.empty[String, Int].withDefaultValue(0)
  @volatile var lastJobEnded: Int = -1

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    for {
      p <- Option(e.properties)
      q <- Option(p.getProperty("sql.streaming.queryId"))
      b <- Option(p.getProperty("streaming.sql.batchId"))
    } {
      val key = s"$q/$b"
      jobBatch(e.jobId) = key
      jobs(key) += 1
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobBatch.get).foreach(k => tasks(k) += 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = lastJobEnded = e.jobId
}

/** Data-batch progress events, as the engine posts them. */
final class ProgressLog extends StreamingQueryListener {
  import StreamingQueryListener._
  val queue = new LinkedBlockingQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    if (e.progress.durationMs.containsKey("addBatch")) queue.put(e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}

/** In-memory spans (name, start, end, parent, batch id), recorded by the
  * benchmark around its calls into each layer while `enabled`; written out
  * when the run ends and reduced to self times.
  */
final class Tracer {
  final case class Span(id: Int, parent: Int, name: String, batch: Long,
                        startNs: Long, var endNs: Long = -1L) {
    def ms: Double = (endNs - startNs) / 1e6
  }
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty[Span]
  var enabled = false
  private var stack = List.empty[Int]

  def apply[A](name: String, batch: Long)(f: => A): A =
    if (!enabled) f
    else {
      val s = Span(spans.size, stack.headOption.getOrElse(-1), name, batch, System.nanoTime())
      spans += s
      stack = s.id :: stack
      try f
      finally { s.endNs = System.nanoTime(); stack = stack.tail }
    }

  /** Each span's duration minus the time its direct children cover, ms. */
  def selfMs: Map[Int, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.map(s => s.id -> (s.endNs - s.startNs - childNs(s.id)) / 1e6).toMap
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""batch":${s.batch},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

final class Bench(plan: JsonNode, out: ObjectNode) {
  private val workload = plan.get("workload").asText
  private val work = plan.get("work").asText
  // How many timed operations (drains or micro-batches) a run
  // measures. run.py derives it from --seconds; a fixed count, not a time
  // box, keeps the work and the table state at the end the same on every
  // run, however fast the code under test is.
  private val timedOps = plan.get("timed_ops").asInt
  private val traced = plan.get("trace").asInt == 1
  private val reps = plan.get("setup_reps").asInt
  private val wh = s"$work/wh"
  private val metrics = out.putObject("metrics")
  private val failures = out.putArray("failures")
  private val tracer = new Tracer

  def fail(msg: String): Unit = {
    failures.add(msg)
    System.err.println(s"[cdcbench] FAIL $msg")
  }

  private val sessionT0 = System.nanoTime()
  val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("cdcbench")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.graft.warehouse", wh)
    .config("spark.sql.catalog.wh", "graft.catalog.GraftCatalog")
    .config("spark.sql.catalog.wh.warehouse", wh)
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  private val sessionS = (System.nanoTime() - sessionT0) / 1e9
  private val progress = new ProgressLog
  private val jobCounter = new JobCounter
  spark.streams.addListener(progress)
  spark.sparkContext.addSparkListener(jobCounter)

  def close(): Unit = {
    spark.streams.active.foreach(_.stop())
    spark.stop()
  }

  /** Records a metric; an empty sample (NaN) is left out and reads 0. */
  private def metric(name: String, v: Double): Unit = if (!v.isNaN) metrics.put(name, v)

  private def arr(xs: Seq[Double]): ArrayNode = {
    val a = out.arrayNode()
    xs.foreach(a.add(_))
    a
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def elapsedS(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Logs the end of a phase with the time since the session started. */
  private def phase(name: String): Unit =
    System.err.println(f"[cdcbench] ${elapsedS(sessionT0)}%8.2f s  $name")

  /** Waits until the listener bus has delivered every event posted so far:
    * a marker job's end arrives after all earlier events.
    */
  private def drainListenerBus(): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup("cdcbench-barrier", "barrier")
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val want = sc.statusTracker.getJobIdsForGroup("cdcbench-barrier").max
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (jobCounter.lastJobEnded < want && System.nanoTime() < deadline) Thread.sleep(2)
  }

  private def cpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.toDouble).sum

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length

  private def listFiles(dir: String): Seq[String] =
    Option(new File(dir).listFiles).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".json")).map(_.getPath).sorted.toSeq

  // --------------------------------------------------------------- checks

  /** The row's text as `oracle.py` renders it ('|'-joined, `\N` for null,
    * decimals with their scale, doubles with three decimals, timestamps as
    * epoch micros, `__source_ts_ms` as epoch millis, dates as epoch days).
    */
  private def canonical(df: DataFrame): Column =
    concat_ws("|", df.schema.fields.toIndexedSeq.map { f =>
      val c = col(s"`${f.name}`")
      val s = f.dataType match {
        case DoubleType => format_string("%.3f", c)
        case TimestampType => unix_millis(c).cast("string")
        case TimestampNTZType => unix_micros(c.cast("timestamp")).cast("string")
        case DateType => unix_date(c).cast("string")
        case _ => c.cast("string")
      }
      when(c.isNull, lit("\\N")).otherwise(s)
    }: _*)

  /** Order-independent digest: (rows, sum of 60-bit md5 prefixes). */
  private def tableHash(df: DataFrame): (Long, BigDecimal) = {
    val r = df.select(canonical(df).as("s"))
      .agg(count(lit(1)), sum(conv(substring(md5(col("s")), 1, 15), 16, 10)
        .cast(DecimalType(20, 0)))).collect().head
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** Digest of a table read through the V2 catalog. */
  private def putTableHash(node: ObjectNode, table: String): (Long, BigDecimal) = {
    val v2 = spark.table(s"wh.$table")
    val (n, h) = tableHash(v2)
    val t = node.putObject(table)
    val cols = t.putArray("columns")
    v2.schema.fieldNames.foreach(cols.add)
    t.put("rows", n)
    t.put("hash", h.toString)
    (n, h)
  }

  // ------------------------------------------------------------ read mix

  final case class Query(shape: String, seam: String, sql: String)
  final case class QueryRun(q: Query, planMs: Double, totalMs: Double, served: Double,
                            rows: Array[Row])

  private val rangeSpan = plan.get("range_span").asLong

  /** The fixed mix over one table: a point lookup by key, a key-range
    * count, a filtered group-by aggregate and a full scan, through the V2
    * catalog (`wh.<t>`) and the V1 seam (`graft.<t>`), V2 first.
    */
  private def mix(table: String, key: Long, rangeStart: Long,
                  seams: Seq[String] = Seq("catalog", "plans")): Seq[Query] =
    seams.flatMap { seam =>
      val rel = if (seam == "catalog") s"wh.$table" else s"graft.$table"
      Seq(Query("point", seam, s"SELECT * FROM $rel WHERE id = $key"),
        Query("range", seam,
          s"SELECT count(*) FROM $rel WHERE id BETWEEN $rangeStart AND ${rangeStart + rangeSpan}"),
        Query("agg", seam,
          s"SELECT region, count(*) AS n, sum(amount) AS amt, sum(qty) AS q, max(price) AS mx " +
            s"FROM $rel WHERE active GROUP BY region"),
        Query("scan", seam, s"SELECT * FROM $rel"))
    }

  /** Runs one query and times it from parse to result. `planMs` is the
    * time to `executedPlan`; the full scan goes to the `noop` sink, the
    * others are collected.
    */
  private def runQuery(q: Query, liveGroups: Int, batch: Long): QueryRun =
    tracer(s"${q.seam}.${q.shape}", batch) {
      val t0 = System.nanoTime()
      val df = spark.sql(q.sql)
      tracer(s"${q.seam}.plan", batch)(df.queryExecution.executedPlan)
      val t1 = System.nanoTime()
      val rows =
        if (q.shape == "scan") { df.write.format("noop").mode("overwrite").save(); Array.empty[Row] }
        else df.collect()
      val t2 = System.nanoTime()
      // measured on point lookups, the shape whose groups can be pruned
      // (GraftScan.servedGroupDirs reads plans without adaptive stages)
      val served =
        if (traced && q.seam == "catalog" && q.shape == "point" && liveGroups > 0)
          GraftScan.servedGroupDirs(df).toDouble / liveGroups
        else Double.NaN
      QueryRun(q, (t1 - t0) / 1e6, (t2 - t0) / 1e6, served, rows)
    }

  private def rowText(r: Row): String = r.toSeq.map(String.valueOf).mkString("|")

  /** Where the mix ran through both seams, each V2 query and its V1 twin
    * (the same position among each seam's runs) must return equal results.
    */
  private def checkSeamsAgree(runs: Seq[QueryRun]): Unit = {
    val (v2, v1) = runs.partition(_.q.seam == "catalog")
    v2.zip(v1).foreach { case (a, b) =>
      val (x, y) = (a.rows.map(rowText).sorted.toSeq, b.rows.map(rowText).sorted.toSeq)
      if (x != y) fail(s"seams disagree on `${a.q.sql}`: ${x.take(3)} vs ${y.take(3)}")
    }
  }

  /** Live data groups (manifest entries other than positional-delete
    * sidecars); `GraftScan.servedGroupDirs` counts the same unit.
    */
  private def liveGroups(table: String): Int =
    ManagedTable.load(spark, wh, table).map(_.filesMetadata().collect()
      .filter(_.getString(1) != "posdel").map(_.getString(0)).distinct.length)
      .getOrElse(0)

  /** The mix's latency percentiles. Each (seam, shape) group's percentile
    * is taken on its own samples and the groups are combined by geometric
    * mean: one percentile over all samples would fall on the boundary
    * between two groups (shapes and seams differ by near-constant
    * factors), where it jumps from run to run.
    */
  private def putQueryMetrics(runs: Seq[QueryRun]): Unit = {
    val groups = runs.groupBy(r => (r.q.seam, r.q.shape)).values.map(_.map(_.totalMs)).toSeq
    def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
    metric("query_p50_ms", geomean(groups.map(Stats.median)))
    metric("query_p90_ms", geomean(groups.map(Stats.pct(_, 0.9))))
    out.put("query_samples", runs.size)
    val byGroup = out.putObject("query_ms")
    runs.groupBy(r => s"${r.q.seam}.${r.q.shape}").foreach { case (k, rs) =>
      byGroup.set[JsonNode](k, arr(rs.map(_.totalMs)))
    }
    if (traced) {
      for (seam <- Seq("catalog", "plans"); shape <- Seq("point", "range", "agg", "scan"))
        metric(s"$seam.${shape}_ms_p50",
          Stats.median(runs.filter(r => r.q.seam == seam && r.q.shape == shape).map(_.totalMs)))
      metric("catalog.plan_ms_p50", Stats.median(runs.filter(_.q.seam == "catalog").map(_.planMs)))
      val served = runs.map(_.served).filterNot(_.isNaN)
      metric("catalog.groups_served_ratio", if (served.isEmpty) 0.0 else served.sum / served.size)
    }
  }

  private val readSeams = plan.get("readback_seams").elements().asScala.map(_.asText).toSeq
  private var readWarmS = 0.0

  /** One pass of the read mix over `table`, at keys drawn from `rng`. */
  private def readPass(table: String, rng: scala.util.Random, groups: Int): Seq[QueryRun] = {
    val keySpace = plan.get("key_space").asLong
    mix(table, rng.nextLong(keySpace), rng.nextLong(keySpace), readSeams).map(runQuery(_, groups, -1L))
  }

  /** An untimed pass of the read mix, charged to `setup_s`. The workloads
    * make one during set-up, so the JIT has compiled the read path long
    * before the timed rounds: after a single pass just before them, query
    * times still fell from round to round.
    */
  private def readWarmUp(table: String, rng: scala.util.Random, groups: Int = 0): Seq[QueryRun] = {
    val (runs, s) = timed(readPass(table, rng, groups))
    setupS += s
    readWarmS += s
    out.put("read_warm_up_s", readWarmS)
    phase(s"read mix warm-up on $table")
    runs
  }

  /** The read mix over a freshly ingested table, after the timed ingest,
    * through the seams the plan names: one more untimed pass, then the
    * timed rounds.
    */
  private def readBack(table: String, seed: Long): Unit = {
    val rng = new scala.util.Random(seed)
    val groups = if (traced) liveGroups(table) else 0
    val warm = readWarmUp(table, rng, groups)
    val runs = warm ++ (0 until plan.get("readback_rounds").asInt).flatMap(_ => readPass(table, rng, groups))
    checkSeamsAgree(runs)
    putQueryMetrics(runs.drop(warm.size))
    phase("read-back mix")
  }

  // ------------------------------------------------------------- workloads

  // Session start plus every untimed warm-up before a timed phase.
  private var setupS = sessionS

  def run(): Unit = {
    out.put("session_s", sessionS)
    tracer.enabled = traced
    workload match {
      case "bulk_catchup" => bulk()
      case "trickle_commit" => trickle()
    }
    if (traced) tracer.write(plan.get("spans_file").asText)
    metric("setup_s", setupS)
    metric("peak_rss_mb", peakRssMb())
  }

  /** The process's high-water resident set (VmHWM). */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  private def dests: Seq[String] = plan.get("dests").elements().asScala.map(_.asText).toSeq

  private def cdcConfig(warehouse: String, prefix: String): PipelineConfig =
    PipelineConfig(warehouse = warehouse, upsert = true, keepDeletes = false,
      dedupColumn = "__source_ts_ms", tableMapper = DefaultTableMapper(prefix = prefix))

  private def tableName(prefix: String, dest: String): String =
    DefaultTableMapper(prefix = prefix).map(dest)

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  private def streamingLayerMetrics(ps: Seq[StreamingQueryProgress]): Unit = {
    drainListenerBus()
    metric("streaming.trigger_ms_p50", Stats.median(ps.map(dur(_, "triggerExecution"))))
    metric("streaming.add_batch_ms_p50", Stats.median(ps.map(dur(_, "addBatch"))))
    metric("streaming.bookkeeping_ms_p50", Stats.median(ps.map(p =>
      Seq("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets")
        .map(dur(p, _)).sum)))
    val keys = ps.map(p => s"${p.id}/${p.batchId}")
    metric("streaming.jobs_per_batch", keys.map(jobCounter.jobs(_)).sum.toDouble / keys.size)
    metric("streaming.tasks_per_batch", keys.map(jobCounter.tasks(_)).sum.toDouble / keys.size)
  }

  /** Metrics read from the ingested tables once the timed phase is over. */
  private def ingestEnd(tables: Seq[String], cpu: Double, gc: Double, kevents: Double,
                        ps: Seq[StreamingQueryProgress]): Unit = {
    // the engine's own input count, kept to show it reads 0 on the
    // small-batch path, where EnvelopeLog reads the files itself; events
    // are counted from the generator
    out.put("engine_num_input_rows", ps.map(_.numInputRows).sum)
    val tnode = out.putObject("tables")
    val rows = tables.map(putTableHash(tnode, _)._1).sum
    phase("table digests")
    metric("stored_bytes_per_row",
      tables.map(t => dirBytes(new File(s"$wh/$t"))).sum.toDouble / math.max(1L, rows))
    if (traced) {
      streamingLayerMetrics(ps)
      metric("jvm.cpu_s_per_kevent", cpu / kevents)
      metric("jvm.gc_ms", gc)
      metric("tables.live_files", tables.map(t =>
        ManagedTable.load(spark, wh, t).get.filesMetadata().count()).sum.toDouble)
      metric("tables.manifest_bytes", tables.map(manifestBytes).sum.toDouble)
    }
  }

  /** Size of the table's current manifest file. */
  private def manifestBytes(table: String): Long =
    Option(new File(s"$wh/$table/manifests").listFiles).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("v=") && f.getName.endsWith(".json"))
      .maxByOption(_.getName.stripPrefix("v=").stripSuffix(".json").toLong)
      .map(_.length).getOrElse(0L)

  /** Drains a staged backlog with one AvailableNow trigger. */
  private def drain(src: String, prefix: String): (StreamingQueryProgress, Double) = {
    val (q, s) = timed {
      val q = CdcPipeline.start(spark, src, s"$work/ckpt-$prefix", cdcConfig(wh, prefix))
      q.awaitTermination()
      q
    }
    val ps = q.recentProgress.filter(_.durationMs.containsKey("addBatch"))
    require(ps.length == 1, s"expected one micro-batch, got ${ps.length}")
    (ps.head, s)
  }

  /** bulk_catchup: each timed drain loads the whole backlog into fresh
    * tables.
    */
  private def bulk(): Unit = {
    val src = plan.get("backlog_dir").asText
    val events = plan.get("backlog_events").asDouble
    // Each set-up drains the full backlog into fresh tables, so the JIT
    // warms on the distributed path the timed drains take. Drain times
    // still fall over the first four drains of a JVM, and the read mix
    // slows the next drain, so one more untimed drain follows the read mix.
    val setups = (0 until reps).map(i => drain(src, s"w${i}_")._2)
    checkSeamsAgree(readWarmUp(tableName(s"w${reps - 1}_", dests.head), new scala.util.Random(3L)))
    val warmS = drain(src, "x_")._2
    out.set[ArrayNode]("setup_reps_s", arr(setups))
    out.put("warm_up_s", warmS)
    setupS += Stats.median(setups) + warmS
    phase("set-up")

    val gc0 = gcMs(); val cpu0 = cpuS()
    val drains = (0 until timedOps).map(i => drain(src, s"d${i}_"))
    val cpu = cpuS() - cpu0; val gc = gcMs() - gc0
    phase("timed phase")
    out.put("drains", drains.size)
    metric("events_per_s", Stats.median(drains.map(d => events / d._2).toSeq))
    val trig = drains.map(d => dur(d._1, "triggerExecution")).toSeq
    metric("batch_p50_ms", Stats.median(trig))
    metric("batch_p90_ms", Stats.pct(trig, 0.9))
    out.put("batch_samples", trig.size)
    out.set[ArrayNode]("batch_ms", arr(trig))

    val prefix = s"d${drains.size - 1}_"
    out.put("verify_prefix", prefix)
    val tables = dests.map(tableName(prefix, _))
    ingestEnd(tables, cpu, gc, drains.size * events / 1000, drains.map(_._1).toSeq)
    readBack(tables.head, 7L)
    if (traced)
      // two backlog files to warm up, then the backlog, twice over: one timed
      // batch a replay, so the order of traced and untraced alternates by replay
      replayIngest(Seq(listFiles(src).take(2), listFiles(src)), distributed = true,
        drains.map(d => dur(d._1, "addBatch")).toSeq, events / 1000, timedFrom = 1, passes = 2)
  }

  /** trickle_commit: a closed loop with one caller. The caller moves one
    * staged 2048-event file into the watched directory and waits until the
    * micro-batch that consumes it has committed before it moves the next.
    */
  private def trickle(): Unit = {
    val stage = listFiles(plan.get("stage_dir").asText)
    val warm = plan.get("warm_files").asInt
    val perFile = plan.get("events_per_file").asDouble

    def feed(q: StreamingQuery, dir: String, file: String, batchId: Long): StreamingQueryProgress = {
      val f = new File(file)
      val tmp = Paths.get(dir, "." + f.getName)
      Files.copy(f.toPath, tmp)
      Files.move(tmp, Paths.get(dir, f.getName), StandardCopyOption.ATOMIC_MOVE)
      var p: StreamingQueryProgress = null
      while (p == null) {
        p = progress.queue.poll(100, TimeUnit.MILLISECONDS)
        if (p == null && !q.isActive)
          throw q.exception.getOrElse(new IllegalStateException("trickle query stopped"))
        if (p != null && (p.id != q.id || p.batchId != batchId)) p = null
      }
      p
    }
    // Each set-up starts a fresh pipeline on fresh tables and commits its
    // first `warm` batches. The last one stays up for the timed phase, so
    // the timed batches commit into tables that grow.
    var q: StreamingQuery = null
    val src = s"$work/src"
    def start(dir: String, name: String, warehouse: String): StreamingQuery = {
      new File(dir).mkdirs()
      CdcPipeline.start(spark, dir, s"$work/ckpt-$name", cdcConfig(warehouse, ""),
        trigger = Trigger.ProcessingTime(0L), maxFilesPerTrigger = Some(1))
    }
    var warmS = 0.0
    val setups = (0 until reps).map { i =>
      val last = i == reps - 1
      val dir = if (last) src else s"$work/src-w$i"
      val s = timed {
        q = start(dir, s"w$i", if (last) wh else s"$work/wh-w$i")
        (0 until warm).foreach(b => feed(q, dir, stage(b), b))
      }._2
      if (!last) warmS += timed(q.stop())._2
      s
    }
    checkSeamsAgree(readWarmUp(tableName("", dests.head), new scala.util.Random(3L)))
    // Batch latency keeps falling over the first batches of a JVM while
    // the JIT compiles, and again after the read mix has run. One more
    // pipeline commits `jit_warm_files` batches into tables of its own, so
    // the kept tables get no more upsert commits (the library compacts
    // them after 32).
    warmS += timed {
      val dir = s"$work/src-jit"
      val jq = start(dir, "jit", s"$work/wh-jit")
      (0 until plan.get("jit_warm_files").asInt).foreach(b => feed(jq, dir, stage(warm + b), b))
      jq.stop()
    }._2
    out.set[ArrayNode]("setup_reps_s", arr(setups))
    out.put("warm_up_s", warmS)
    setupS += Stats.median(setups) + warmS
    phase("set-up")

    val gc0 = gcMs(); val cpu0 = cpuS()
    val timed0 = warm
    val (ps, walls) = (timed0 until timed0 + timedOps).map(b => timed(feed(q, src, stage(b), b))).unzip
    val fed = timed0 + timedOps
    val cpu = cpuS() - cpu0; val gc = gcMs() - gc0
    phase("timed phase")
    q.stop()
    out.put("files_consumed", fed)
    // The timed batches fall into consecutive windows; throughput and p90
    // are each window's, and the run reports their medians, so a burst of
    // host noise in one window does not move the run's figures. A window
    // holds 10 batches, so its p90 is its second largest: the first timed
    // batch and the evolve batch, each in a window of its own, set none.
    val trig = ps.map(dur(_, "triggerExecution"))
    val nw = plan.get("windows").asInt
    val win = (0 until nw).map(w => (timedOps * w / nw) until (timedOps * (w + 1) / nw))
    metric("events_per_s", Stats.median(win.map(r => r.size * perFile / r.map(walls).sum)))
    metric("batch_p50_ms", Stats.median(trig))
    metric("batch_p90_ms", Stats.median(win.map(r => Stats.pct(r.map(trig), 0.9))))
    out.put("batch_samples", trig.size)
    out.set[ArrayNode]("batch_ms", arr(trig))

    out.put("verify_prefix", "")
    val tables = dests.map(tableName("", _))
    ingestEnd(tables, cpu, gc, ps.size * perFile / 1000, ps.toSeq)
    readBack(tables.head, 11L)
    if (traced)
      replayIngest(stage.take(fed).map(Seq(_)), distributed = false,
        ps.map(dur(_, "addBatch")).toSeq, perFile / 1000, timedFrom = timed0, passes = 1)
  }

  /** The traced run of an ingest workload: replays the same batches through
    * the public layer calls in CdcPipeline's order, each call inside a span,
    * into a separate warehouse. Batches before `timedFrom` warm up untimed.
    * The same replay also runs with the tracer off, into a warehouse of its
    * own, so the ratio of the two replays' speeds is the tracing overhead.
    * `distributed` mirrors the pipeline's large-batch path (the raw batch
    * cached, one metadata aggregation); otherwise the rows are read in this
    * process and each destination is a local relation in a session with one
    * shuffle partition and no adaptive planning, as on the small-batch path.
    */
  private def replayIngest(batches: Seq[Seq[String]], distributed: Boolean, addBatchMs: Seq[Double],
                           keventsPerBatch: Double, timedFrom: Int, passes: Int): Unit = {
    val upsert = CdcApply.UpsertConfig(keepDeletes = false, dedupColumn = "__source_ts_ms")
    val envelope = CdcPipeline.envelopeSchema
    val localSession = spark.newSession()
    localSession.conf.set("spark.sql.adaptive.enabled", "false")
    localSession.conf.set("spark.sql.shuffle.partitions", "1")
    val mapper = new ObjectMapper()
    def text(n: JsonNode): String =
      if (n == null || n.isNull) null else if (n.isTextual) n.textValue else n.toString
    def schemaOf(json: String): Option[String] =
      Option(json).flatMap(j => Option(mapper.readTree(j).get("schema")).filterNot(_.isNull).map(_.toString))
    var kept, decodedRows = 0L

    // One batch through the chain into warehouse `rwh`: the decoded slices
    // with their key columns, and the cached raw batch on the large path.
    def chain(rwh: String, files: Seq[String], b: Long)
        : (Seq[(DataFrame, Seq[String])], Option[DataFrame]) = tracer("batch", b) {
      // (destination -> (rows, value schemas, key schema)) for the batch
      val (slices, cached) = if (distributed) {
        val raw = tracer("streaming.read", b) {
          val p = spark.read.schema(envelope).json(files: _*).persist()
          p.count()
          p
        }
        val meta = tracer("cdc.infer", b) {
          raw.groupBy("destination").agg(
            collect_set(get_json_object(col("value"), "$.schema")),
            first(get_json_object(col("key"), "$.schema"), ignoreNulls = true))
            .collect().map(r => r.getString(0) -> (r.getSeq[String](1), Option(r.getString(2)))).toMap
        }
        (meta.map { case (d, (vs, ks)) => d -> (raw.filter(col("destination") === d), vs, ks) }, Some(raw))
      } else {
        val rows = tracer("streaming.read", b) {
          files.flatMap { f =>
            Files.readAllLines(Paths.get(f)).asScala.filter(_.trim.nonEmpty).map { l =>
              val n = mapper.readTree(l)
              Row(text(n.get("destination")), text(n.get("key")), text(n.get("value")))
            }
          }
        }
        val meta = tracer("cdc.infer", b) {
          rows.groupBy(_.getString(0)).map { case (d, rs) =>
            d -> (rs, rs.flatMap(r => schemaOf(r.getString(2))).distinct,
              rs.iterator.flatMap(r => schemaOf(r.getString(1))).nextOption())
          }
        }
        (meta.map { case (d, (rs, vs, ks)) =>
          d -> (localSession.createDataFrame(java.util.Arrays.asList(rs: _*), envelope).coalesce(1), vs, ks)
        }, None)
      }
      (slices.keys.toSeq.sorted.map { dest =>
        val (slice, valueSchemas, keySchema) = slices(dest)
        val inferred = tracer("cdc.infer", b)(EventDecoder.infer(valueSchemas.sorted, keySchema))
        val ids = inferred.identifierFields
        val table = tracer("tables.load", b) {
          val t = ManagedTable.loadOrCreate(spark, rwh, tableName("", dest), inferred.tableSchema,
            ids, Seq.empty, Map("write.mor.posdel-on-commit" -> "auto"))
          t.evolve(inferred.tableSchema, ids)
          t
        }
        val decoded = tracer("cdc.decode", b) {
          val d = EventDecoder.decode(slice, inferred).persist()
          decodedRows += d.count()
          d
        }
        tracer("tables.merge", b)(table.merge(decoded, upsert))
        (decoded, ids)
      }, cached)
    }

    /** The chain's seconds for one batch. The dedup count behind
      * `cdc.dedup_keep_ratio` runs after it, outside the timing.
      */
    def one(rwh: String, files: Seq[String], b: Long): Double = {
      val t0 = System.nanoTime()
      val (decodedSets, cached) = chain(rwh, files, b)
      val secs = elapsedS(t0)
      decodedSets.foreach { case (d, ids) =>
        kept += Dedup.deduplicate(d, ids, "__source_ts_ms").count()
        d.unpersist()
      }
      cached.foreach(_.unpersist())
      secs
    }

    // Each batch runs the chain twice, into two warehouses, with the tracer
    // off and on, in alternating order, so JIT warm-up and host drift fall
    // on both alike; each of `passes` replays uses fresh warehouses and
    // starts with the other order. Pairs of (untraced, traced) seconds,
    // timed batches only.
    val pairs = (0 until passes).flatMap { p =>
      batches.indices.map { i =>
        val id = p * batches.size + i
        val b = if (i < timedFrom) -1L - id else id.toLong
        def pass(on: Boolean): Double = {
          tracer.enabled = on
          one(s"$work/wh-${if (on) "trace" else "replay"}$p", batches(i), b)
        }
        if ((i + p) % 2 == 0) { val u = pass(false); (u, pass(true)) }
        else { val t = pass(true); (pass(false), t) }
      }.drop(timedFrom)
    }
    tracer.enabled = true
    phase("replays")
    val timedBatches = pairs.size
    val self = tracer.selfMs
    val timedSpans = tracer.spans.filter(_.batch >= 0).toSeq
    def selfOf(name: String): Seq[Double] = timedSpans.filter(_.name == name).map(s => self(s.id))
    def perBatch(name: String): Seq[Double] =
      timedSpans.filter(_.name == name).groupBy(_.batch).values.map(_.map(s => self(s.id)).sum).toSeq
    metric("cdc.infer_ms", Stats.median(perBatch("cdc.infer")))
    metric("cdc.decode_ms_per_kevent", selfOf("cdc.decode").sum / (timedBatches * keventsPerBatch))
    metric("cdc.dedup_keep_ratio", kept.toDouble / math.max(1L, decodedRows))
    metric("tables.load_ms", Stats.median(perBatch("tables.load")))
    val merges = selfOf("tables.merge")
    metric("tables.merge_ms_p50", Stats.median(merges))
    metric("tables.merge_ms_p90", Stats.pct(merges, 0.9))
    val chains = timedSpans.filter(_.name == "batch").map(_.ms)
    metric("trace.chain_vs_add_batch", Stats.median(chains) / Stats.median(addBatchMs))
    metric("trace.traced_vs_untraced", pairs.map(_._1).sum / pairs.map(_._2).sum)
  }
}
