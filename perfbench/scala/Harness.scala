package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.SparkEntry
import graft.app.{GoldJob, IncrementalSilverJob, SilverJob, StreamJob}
import graft.gold.IncrementalGold
import graft.sources.Medallion

/** The benchmark JVM. `run.py` writes a plan (JSON) and this object
  * executes it: session build and untimed warm-up, the timed closed
  * loop of one client, and the untimed correctness pass. It writes raw
  * timings, spans and listener counts to the plan's `out` file; every
  * metric is derived from that record in Python.
  *
  * Every layer is timed from outside, around a call into its public
  * API, and every count comes from Spark's public listener APIs, so
  * the program under test is exactly the program the repo ships. */
object Harness {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(Files.readString(Paths.get(args(0))))
    val out = mapper.createObjectNode()
    val h = new Harness(plan, out)
    try h.run()
    finally {
      h.finish()
      Files.writeString(Paths.get(plan.get("out").asText), mapper.writeValueAsString(out))
    }
  }
}

/** One timed interval. `key` names the phase for listener attribution
  * (`<request>/<phase>`); spans form a tree through `parent`. */
final case class Span(id: Int, name: String, parent: Int, req: String,
                      key: String, startNs: Long, endNs: Long,
                      startMs: Long, endMs: Long)

/** Listener counts of one phase. */
final class Acc {
  var jobs, stages, tasks, failedTasks = 0L
  var cpuNs, runMs, durMs, waitMs, gcMs = 0L
  var scanBytes, shWriteBytes, shReadBytes, shRecords, spillBytes = 0L

  def add(a: Acc): Unit = {
    jobs += a.jobs; stages += a.stages; tasks += a.tasks
    failedTasks += a.failedTasks; cpuNs += a.cpuNs; runMs += a.runMs
    durMs += a.durMs; waitMs += a.waitMs; gcMs += a.gcMs
    scanBytes += a.scanBytes; shWriteBytes += a.shWriteBytes
    shReadBytes += a.shReadBytes; shRecords += a.shRecords
    spillBytes += a.spillBytes
  }
}

/** Per-phase counters fed by Spark's listener bus. Jobs carry their
  * phase in the job group the watchdog sets; jobs submitted on threads
  * that set their own group (streaming) fall back to submission time. */
final class Probe(full: Boolean) extends SparkListener {
  private val jobKey = new ConcurrentHashMap[Int, String]()
  private val jobTime = new ConcurrentHashMap[Int, Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  val byKey = new ConcurrentHashMap[String, Acc]()
  /** Stage aggregates whose job had no phase group; resolved by time. */
  val unkeyed = new ConcurrentHashMap[Int, Acc]()
  private val rddBlocks = new ConcurrentHashMap[String, Long]()
  private val storage = new AtomicLong(0L)
  val peakStorage = new AtomicLong(0L)
  @volatile var sentinelSeen = false

  def resetPeak(): Unit = peakStorage.set(storage.get)

  private def acc(jobId: Int): Acc = {
    val k = jobKey.get(jobId)
    if (k != null) byKey.computeIfAbsent(k, _ => new Acc)
    else unkeyed.computeIfAbsent(jobId, _ => new Acc)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null && g.startsWith("graft-watchdog-pb:"))
      jobKey.put(e.jobId, g.stripPrefix("graft-watchdog-pb:"))
    jobTime.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    acc(e.jobId).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (jobKey.get(e.jobId) == "sentinel") sentinelSeen = true

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (full) e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val j = stageJob.get(e.stageInfo.stageId)
    if (j != null.asInstanceOf[Any]) acc(j).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (!full) return
    val j = stageJob.get(e.stageId)
    if (j == null.asInstanceOf[Any]) return
    val a = acc(j)
    a.synchronized {
      a.tasks += 1
      if (e.reason != org.apache.spark.Success) a.failedTasks += 1
      val info = e.taskInfo
      a.durMs += info.duration
      val sub = stageSubmit.get(e.stageId)
      if (sub != null.asInstanceOf[Any]) a.waitMs += math.max(0L, info.launchTime - sub)
      val m = e.taskMetrics
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.scanBytes += m.inputMetrics.bytesRead
        a.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.shReadBytes += m.shuffleReadMetrics.totalBytesRead
        a.shRecords += m.shuffleWriteMetrics.recordsWritten
        a.spillBytes += m.diskBytesSpilled
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (!b.blockId.isRDD) return
    val now = b.memSize + b.diskSize
    val prev = Option(rddBlocks.put(b.blockId.name, now)).getOrElse(0L)
    if (now == 0L) rddBlocks.remove(b.blockId.name)
    val total = storage.addAndGet(now - prev)
    peakStorage.accumulateAndGet(total, math.max)
  }

  def jobTimeOf(jobId: Int): Long = jobTime.getOrDefault(jobId, 0L)
}

/** Streaming progress, summed per phase key: the phase that was open
  * when the query started (start events are delivered synchronously,
  * progress events later). */
final class StreamProbe extends StreamingQueryListener {
  final class Acc {
    var batches, inputRows, emptyBatches = 0L
    val durMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  }
  @volatile var currentKey: String = ""
  private val queryKey = new ConcurrentHashMap[java.util.UUID, String]()
  val byKey = new ConcurrentHashMap[String, Acc]()
  val terminated = ConcurrentHashMap.newKeySet[java.util.UUID]()
  def settled: Boolean = terminated.size >= queryKey.size

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    queryKey.put(e.runId, currentKey)
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val k = queryKey.getOrDefault(p.runId, currentKey)
    val a = byKey.computeIfAbsent(k, _ => new Acc)
    a.synchronized {
      a.batches += 1
      a.inputRows += p.numInputRows
      if (p.numInputRows == 0) a.emptyBatches += 1
      p.durationMs.asScala.foreach { case (n, v) => a.durMs(n) += v.longValue }
    }
  }
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    terminated.add(e.runId)
}

final class Harness(plan: JsonNode, out: ObjectNode) {
  private val mapper = new ObjectMapper()
  private val trace = plan.path("trace").asBoolean(false)
  private val cpus = plan.get("cpus").asInt
  private val timeoutSec = plan.path("timeout_s").asLong(150L)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextSpan = 0
  private val stack = mutable.Stack[Int]()
  private var spark: SparkSession = _
  private var probe: Probe = _
  private var streamProbe: StreamProbe = _
  private val errors = out.putArray("errors")

  private def sec(ns: Long): Double = ns / 1e9

  /** Time `body` as a span. Spans stay in memory until the run ends. */
  private def span[T](name: String, req: String, key: String = "")(body: => T): (T, Span) = {
    val id = nextSpan; nextSpan += 1
    val parent = if (stack.isEmpty) -1 else stack.top
    stack.push(id)
    val ms0 = System.currentTimeMillis(); val t0 = System.nanoTime()
    try {
      val r = body
      val s = Span(id, name, parent, req, key, t0, System.nanoTime(), ms0, System.currentTimeMillis())
      spans += s
      (r, s)
    } finally stack.pop()
  }

  /** Run one phase under the repo's watchdog, with a job group that
    * names the phase for the listener. Returns the error, if any. */
  private def phase(name: String, req: String)(body: => Unit): Option[String] = {
    val key = s"$req/$name"
    if (streamProbe != null) streamProbe.currentKey = key
    val before = if (trace) Some(globalCounters()) else None
    val (err, _) = span(name, req, key) {
      graft.Watchdog.run(spark, s"pb:$key", timeoutSec)(body)
    }
    before.foreach { b =>
      val o = phaseCounters.putObject(key)
      globalCounters().zip(b).zip(counterNames).foreach { case ((x, y), n) => o.put(n, x - y) }
    }
    err.foreach(e => errors.add(s"$key: $e"))
    err
  }

  private lazy val phaseCounters = out.putObject("phase_counters")
  private val counterNames =
    Seq("codegen_compiles", "codegen_compile_ms", "file_cache_hits")

  /** Spark's process-wide codegen and file-cache metrics. Compile time
    * is the sum of the histogram's retained samples: exact while fewer
    * compiles than its reservoir (1028) have happened in this JVM. */
  private def globalCounters(): Seq[Long] = {
    import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    Seq(h.getCount, h.getSnapshot.getValues.sum,
      HiveCatalogMetrics.METRIC_FILE_CACHE_HITS.getCount)
  }

  def buildSession(): SparkSession = {
    val local = plan.get("local_dir").asText
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "org.apache.spark.sql.graft.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", s"$local/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def attach(): Unit = {
    probe = new Probe(trace)
    spark.sparkContext.addSparkListener(probe)
    streamProbe = new StreamProbe
    spark.streams.addListener(streamProbe)
  }

  /** Waits until the listener bus has delivered every event posted
    * before this call: a tiny job's end event arrives after them. */
  private def drainListener(): Unit = {
    probe.sentinelSeen = false
    graft.Watchdog.run(spark, "pb:sentinel", 60) {
      spark.sparkContext.parallelize(Seq(1), 1).count(): Unit
    }
    val deadline = System.nanoTime() + 30e9.toLong
    while (!probe.sentinelSeen && System.nanoTime() < deadline)
      Thread.sleep(5)
  }

  private def storageNow(): (Int, Double) = {
    val sc = spark.sparkContext
    val info = sc.getRDDStorageInfo
    (sc.getPersistentRDDs.size, info.map(i => i.memSize + i.diskSize).sum / 1e6)
  }

  private def releaseAll(): Unit = graft.Bench.releaseAll(spark)

  private val queries: Map[String, graft.queries.QueryDef] =
    SparkEntry.registry.map(q => q.name -> q).toMap

  /** Rows delivered by the first request of each query, kept for the
    * untimed correctness dump. */
  private val delivered = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]

  /** Construct → plan → deliver (collect every column to the client)
    * → release, each a child span of the request. */
  private def request(reqId: String, name: String, sfDir: String,
                      rec: ObjectNode, keepRows: Boolean = true): Boolean = {
    val q = queries(name)
    var df: DataFrame = null
    var rows: Array[Row] = null
    val (ok, s) = span("request", reqId) {
      phase("construct", reqId) { df = q.run(spark, sfDir) }.isEmpty &&
        phase("plan", reqId) { df.queryExecution.executedPlan: Unit }.isEmpty &&
        phase("deliver", reqId) { rows = df.collect() }.isEmpty && {
          val (pins, mb) = storageNow()
          rec.put("pins", pins); rec.put("pinned_mb", mb)
          true
        } && phase("release", reqId) { releaseAll() }.isEmpty
    }
    if (!ok) releaseAll()
    else {
      rec.put("rows", rows.length)
      if (keepRows && !delivered.contains(name)) delivered(name) = (rows, df.schema)
    }
    rec.put("id", reqId); rec.put("query", name); rec.put("ok", ok)
    rec.put("latency_s", sec(s.endNs - s.startNs))
    ok
  }

  /** Session build, then the untimed warm-up: each warm-up query is
    * requested once on the small warm-up tables, so that timed requests
    * of the same queries meet warm JIT and generated code. */
  private def setup(): Unit = {
    val t0 = System.nanoTime()
    spark = buildSession()
    spark.range(1).count()
    val t1 = System.nanoTime()
    val warmDir = plan.get("warmup_dir").asText
    plan.get("warmup_queries").asScala.map(_.asText).foreach { n =>
      if (!request(s"warm-$n", n, warmDir, mapper.createObjectNode(), keepRows = false))
        errors.add(s"warm-up $n failed")
    }
    val o = out.putObject("setup")
    o.put("session_s", sec(t1 - t0)); o.put("warmup_s", sec(System.nanoTime() - t1))
    out.put("jvm_start_ms", java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
  }

  private def queryLoop(): Unit = {
    val sfDir = plan.get("sf_dir").asText
    val reqs = plan.get("requests").asScala.map(_.asText).toSeq
    val arr = out.putArray("requests")
    reqs.zipWithIndex.foreach { case (n, i) =>
      request(f"r$i%04d", n, sfDir, arr.addObject())
    }
  }

  /** Untimed: every pool query's delivered rows, as one parquet file
    * each, for the DuckDB oracle comparison in run.py. Pool queries
    * the timed section did not request are requested here first. */
  private def correctnessDump(pool: Seq[String]): Unit = {
    val sfDir = plan.get("sf_dir").asText
    val dir = plan.get("check_dir").asText
    val arr = out.putArray("check_requests")
    pool.filterNot(delivered.contains).foreach { n =>
      request(s"check-$n", n, sfDir, arr.addObject())
    }
    delivered.foreach { case (n, (rows, schema)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$n")
    }
    val oracles = mapper.createObjectNode()
    pool.foreach(n => queries(n).oracle.foreach(oracles.put(n, _)))
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"), mapper.writeValueAsString(oracles))
  }

  /** The backfill (every silver topic, then gold), then the hourly
    * increments: each hour is landed, then carried to its gold report. */
  private def medallion(m: JsonNode, res: ObjectNode): Unit = {
    val work = m.get("work_dir").asText
    val bronze = m.get("bronze_root").asText
    val req = "b0"
    val root = s"$work/backfill"
    val rec = res.putObject("backfill")
    val topics = rec.putObject("topics")
    var gold: Map[String, Boolean] = Map.empty
    val (ok, s) = span("request", req) {
      val silverOk = SilverJob.topics.forall { cfg =>
        var tr: graft.app.TopicResult = null
        phase(s"silver_${cfg.name}", req) {
          tr = SilverJob.runTopic(spark, cfg, bronze, s"$root/silver", s"$root/meta")
        }.isEmpty && tr != null && {
          val t = topics.putObject(cfg.name)
          t.put("read", tr.recordsRead); t.put("processed", tr.recordsProcessed)
          t.put("quality", tr.qualityScore)
          tr.error.foreach(e => errors.add(s"silver ${cfg.name}: $e"))
          tr.success
        }
      }
      silverOk && phase("gold", req) {
        gold = GoldJob.run(spark, s"$root/silver", s"$root/gold", s"$root/meta")
      }.isEmpty && gold.nonEmpty && gold.values.forall(identity) &&
        phase("release", req) { releaseAll() }.isEmpty
    }
    rec.put("id", req); rec.put("ok", ok); rec.put("latency_s", sec(s.endNs - s.startNs))
    val counts = rec.putObject("gold_rows")
    if (ok) gold.keys.foreach { t =>
      counts.put(t, Medallion.readTable(spark, s"$root/gold/$t").count())
    }
    releaseAll()

    val streamIn = s"$work/stream/bronze"
    val landing = s"$work/stream/landing"
    val incSilver = s"$work/stream/silver"
    val state = s"$work/stream/gold_state"
    Files.createDirectories(Paths.get(streamIn))
    val hours = m.get("hours").asScala.toSeq
    val inc = res.putArray("increments")
    hours.zipWithIndex.foreach { case (hr, i) =>
      val req = f"h$i%02d"
      val staged = Paths.get(hr.get("dir").asText)
      val start = hr.get("start").asText
      val rec = inc.addObject()
      // Land the hour atomically: each staged file appears in the
      // stream's input directory by one rename.
      Files.list(staged).iterator.asScala.toSeq.sorted.foreach { f =>
        Files.move(f, Paths.get(streamIn).resolve(f.getFileName),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
      var silverRows = -1L
      var reportRows = -1L
      val (ok, s) = span("request", req) {
        phase("land", req) {
          StreamJob.run(spark, streamIn, landing, s"$work/stream/ckpt_land")
        }.isEmpty && phase("incremental_silver", req) {
          IncrementalSilverJob.run(spark, landing, incSilver, s"$work/stream/ckpt_silver")
        }.isEmpty && phase("gold_incremental", req) {
          val rows = hourRows(incSilver, start)
          IncrementalGold.run(spark, rows, state): Unit
        }.isEmpty && phase("gold_report", req) {
          reportRows = IncrementalGold.currentReport(spark, state).collect().length
        }.isEmpty && phase("release", req) { releaseAll() }.isEmpty
      }
      if (ok) silverRows = hourRows(incSilver, start).count()
      releaseAll()
      rec.put("id", req); rec.put("ok", ok); rec.put("latency_s", sec(s.endNs - s.startNs))
      rec.put("start", start); rec.put("silver_rows", silverRows); rec.put("report_rows", reportRows)
    }
    // Untimed: the state folded hour by hour must equal one pass over
    // every hour's silver rows.
    val same = try {
      def canon(df: DataFrame) = df.orderBy("user_id").collect().map(_.toString).toSeq
      val all = spark.read.parquet(incSilver).withColumn("value", col("purchase_value"))
      canon(IncrementalGold.currentReport(spark, state)) ==
        canon(IncrementalGold.report(IncrementalGold.partials(all)))
    } catch { case e: Exception => errors.add(s"incremental check: $e"); false }
    res.put("incremental_matches_one_shot", same)
  }

  /** The silver rows of one event-time hour, with the purchase value as
    * the gold `value`. */
  private def hourRows(silverDir: String, start: String): DataFrame = {
    val t0 = java.sql.Timestamp.from(java.time.Instant.parse(start))
    val t1 = new java.sql.Timestamp(t0.getTime + 3600000L)
    spark.read.parquet(silverDir)
      .filter(col("ts") >= t0 && col("ts") < t1)
      .withColumn("value", col("purchase_value"))
  }

  /** One pass over the named queries (the traffic survey). */
  private def survey(): Unit = {
    val sfDir = plan.get("sf_dir").asText
    val arr = out.putArray("requests")
    val names = plan.get("requests").asScala.map(_.asText).toSeq
    (if (names.nonEmpty) names else queries.keys.toSeq.sorted).foreach { n =>
      request(n, n, sfDir, arr.addObject(), keepRows = false)
      System.err.println(s"[survey] $n")
    }
  }

  def run(): Unit = {
    setup()
    attach()
    val mode = plan.get("mode").asText
    val t0 = System.nanoTime()
    probe.resetPeak()
    out.put("timed_start_ms", System.currentTimeMillis())
    mode match {
      case "queries" => queryLoop()
      case "medallion" => medallion(plan.get("medallion"), out.putObject("medallion"))
      case "survey" => survey()
    }
    out.put("wall_s", sec(System.nanoTime() - t0))
    drainListener()
    out.put("peak_storage_mb", probe.peakStorage.get / 1e6)
    if (mode == "queries")
      correctnessDump(plan.get("pool").asScala.map(_.asText).toSeq)
  }

  def finish(): Unit = {
    if (spark == null) return
    if (probe != null && trace) {
      drainListener()
      val deadline = System.nanoTime() + 10e9.toLong
      while (!streamProbe.settled && System.nanoTime() < deadline) Thread.sleep(5)
      writeCounts()
    }
    out.put("spark_version", spark.version)
    out.put("java_version", System.getProperty("java.version"))
    out.put("task_threads", spark.sparkContext.defaultParallelism)
    out.put("heap_max_mb", Runtime.getRuntime.maxMemory / 1048576)
    val jvm = out.putArray("jvm_args")
    java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.foreach(jvm.add)
    val sp = out.putArray("spans")
    spans.sortBy(_.id).foreach { s =>
      val o = sp.addObject()
      o.put("id", s.id); o.put("name", s.name); o.put("parent", s.parent)
      o.put("req", s.req); o.put("key", s.key)
      o.put("start_ns", s.startNs); o.put("end_ns", s.endNs)
    }
    spark.stop()
  }

  /** Listener and streaming-progress counts per phase key. */
  private def writeCounts(): Unit = {
    // Jobs without a phase group (streaming micro-batches) belong to
    // the phase whose interval holds their submission time.
    val phases = spans.filter(_.key.nonEmpty)
    probe.unkeyed.asScala.foreach { case (job, a) =>
      val t = probe.jobTimeOf(job)
      val k = phases.filter(p => p.startMs <= t && t <= p.endMs)
        .sortBy(-_.startMs).headOption.map(_.key).getOrElse("unattributed")
      probe.byKey.computeIfAbsent(k, _ => new Acc).add(a)
    }
    val c = out.putObject("counts")
    probe.byKey.asScala.foreach { case (k, a) =>
      val o = c.putObject(k)
      o.put("jobs", a.jobs); o.put("stages", a.stages); o.put("tasks", a.tasks)
      o.put("failed_tasks", a.failedTasks); o.put("task_cpu_s", a.cpuNs / 1e9)
      o.put("task_run_s", a.runMs / 1e3); o.put("task_dur_s", a.durMs / 1e3)
      o.put("task_wait_s", a.waitMs / 1e3); o.put("gc_s", a.gcMs / 1e3)
      o.put("scan_mb", a.scanBytes / 1e6); o.put("shuffle_write_mb", a.shWriteBytes / 1e6)
      o.put("shuffle_read_mb", a.shReadBytes / 1e6); o.put("shuffle_records", a.shRecords)
      o.put("spill_mb", a.spillBytes / 1e6)
    }
    val st = out.putObject("streaming")
    streamProbe.byKey.asScala.foreach { case (k, a) =>
      val o = st.putObject(k)
      o.put("batches", a.batches); o.put("input_rows", a.inputRows)
      o.put("empty_batches", a.emptyBatches)
      val d = o.putObject("duration_ms")
      a.durMs.foreach { case (n, v) => d.put(n, v) }
    }
  }
}
