package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.{GraftSession, SparkEntry, Tables}
import graft.sinks.{LakeSink, Sinks, WebhookDelivery}
import graft.sources.{WebhookIngest, WebhookQueue}
import graft.streaming.StreamOps

/** The engine process of one benchmark run. It calls the program's public
  * functions only, and talks to `run.py` through lines on stdout that
  * start with `@@` (Spark logs go to stderr):
  *
  *   @@READY {json}    set-up finished; the timed part starts
  *   @@RESULT {json}   timings, per-layer counters and dump locations
  *
  * `webhook_live` additionally waits for a `STOP` line on stdin, sent once
  * the generator process has finished.
  */
object Engine {

  val payloadSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType),
    StructField("due_us", LongType)))

  /** Process CPU, GC and JIT time, and heap pool peaks, between two marks. */
  final class Runtime {
    private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    private val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    private val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    private val heap = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    private def gcMs = gcs.map(_.getCollectionTime).sum
    private var cpu0, gc0, jit0 = 0L
    def start(): Unit = {
      cpu0 = os.getProcessCpuTime; gc0 = gcMs; jit0 = jit.getTotalCompilationTime
      heap.foreach(_.resetPeakUsage())
    }
    def stop(): Map[String, Double] = Map(
      "cpu_s" -> (os.getProcessCpuTime - cpu0) / 1e9,
      "runtime.gc_s" -> (gcMs - gc0) / 1e3,
      "runtime.jit_s" -> (jit.getTotalCompilationTime - jit0) / 1e3,
      "runtime.heap_peak_mb" -> heap.map(_.getPeakUsage.getUsed).sum / 1048576.0)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val runDir = Paths.get(opt("run-dir")).toAbsolutePath
    val trace = opt("trace") == "1"
    val seconds = opt("seconds").toDouble
    val cpus = opt("cpus")
    val spark = GraftSession.builder(cpus)
      .config("spark.graft.cacheTables", (workload == "lake_queries").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("spark-warehouse").toString)
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    note("session up")
    val probe = if (trace) Some(new Probe(spark)) else None
    val out = workload match {
      case "webhook" => webhook(spark, runDir, opt, probe)
      case "lake_queries" => lakeQueries(spark, runDir, opt, seconds, probe)
    }
    note("outputs dumped")
    spark.stop()
    emit("RESULT", out)
    // a lingering non-daemon thread must not hold the process open
    System.exit(0)
  }

  def setupSeconds: Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** A timestamped phase note in the engine log. */
  def note(msg: String): Unit =
    System.err.println(f"[graftbench] ${setupSeconds}%.3f s: $msg")

  def emit(tag: String, m: Map[String, Any]): Unit = {
    println(s"@@$tag ${Json(m)}")
    System.out.flush()
  }

  // ---------------------------------------------------------------- webhook

  /** Per-batch sink timings the pipeline records (batch id → value). */
  final class SinkClock(val tag: String) {
    val lakeDoneUs = new ConcurrentHashMap[Long, Long]()
    val lakeApplyMs = new ConcurrentHashMap[Long, Double]()
    val deliverMs = new ConcurrentHashMap[Long, Double]()
  }

  /** WebhookSource → dedupDeliveries → parseOrDeadLetter → LakeSink
    * (good and dead lanes) → optional outbound delivery of good events.
    */
  def startPipeline(spark: SparkSession, dir: Path, clock: SinkClock,
                    maxRows: Option[Long], endpoint: Option[String],
                    trace: Boolean): StreamingQuery = {
    val tag = clock.tag
    val reader = spark.readStream.format("graft.sources.WebhookSourceProvider")
    maxRows.foreach(n => reader.option("maxRowsPerBatch", n))
    val deduped = StreamOps.dedupDeliveries(reader.load())
    val lake = dir.resolve(s"lake_$tag").toString
    val dead = dir.resolve(s"dead_$tag").toString
    val ledger = dir.resolve(s"ledger_$tag").toString
    Sinks.streamForeachBatch(deduped, dir.resolve(s"ckpt_$tag").toString,
      "append") { (batch, id) =>
      batch.persist()
      val (good, bad) = WebhookIngest.parseOrDeadLetter(batch, payloadSchema)
      val t0 = System.nanoTime()
      LakeSink.applyBatch(good.withColumn("date", to_date(col("ts"))), id,
        lake, "date")
      clock.lakeDoneUs.put(id, Clock.nowUs)
      if (trace) clock.lakeApplyMs.put(id, (System.nanoTime() - t0) / 1e6)
      LakeSink.applyBatch(bad.withColumn("date", to_date(col("ingest_ts"))),
        id, dead, "date")
      endpoint.foreach { ep =>
        val t1 = System.nanoTime()
        WebhookDelivery.deliverBatch(
          good.select("event_id", "event_type", "value", "due_us"), id, ep,
          "event_id", ledger)
        if (trace) clock.deliverMs.put(id, (System.nanoTime() - t1) / 1e6)
      }
      batch.unpersist()
    }
  }

  /** After the timed part: what the lake, the dead-letter lake and the
    * ledger hold, read back through the program's own readers and written
    * as JSON lines for the checker.
    */
  def dump(spark: SparkSession, dir: Path, tags: Seq[String]): Map[String, Any] = {
    def write(df: DataFrame, name: String): String = {
      val p = dir.resolve("dump").resolve(s"$name.jsonl")
      Files.createDirectories(p.getParent)
      Files.write(p, df.toJSON.collect().toSeq.asJava, UTF_8)
      p.toString
    }
    def union(dfs: Seq[DataFrame]): DataFrame = dfs.reduce(_ unionByName _)
    def exists(p: Path): Boolean = Files.isDirectory(p) &&
      Files.list(p).iterator().asScala.exists(_.getFileName.toString.startsWith("date="))
    val lakeTags = tags.filter(t => exists(dir.resolve(s"lake_$t").resolve("open")))
    val deadTags = tags.filter(t => exists(dir.resolve(s"dead_$t").resolve("open")))
    val ledgerTags = tags.filter(t => Files.isDirectory(dir.resolve(s"ledger_$t")))
    val m = mutable.Map[String, Any]()
    if (lakeTags.nonEmpty) {
      m("lake") = write(union(lakeTags.map(t =>
        LakeSink.read(spark, dir.resolve(s"lake_$t").toString, "date")
          .select(col("event_id"), col("event_type"), col("value"),
            col("ts").isNull.as("ts_null"), lit(t).as("tag")))), "lake")
      // batch ids are scaffolding LakeSink.read hides; the latency join
      // needs them, so read the open side's layout directly
      m("lake_batches") = write(union(lakeTags.map(t =>
        spark.read.parquet(dir.resolve(s"lake_$t").resolve("open").toString)
          .select(col("event_id"), col("due_us"), col("batch_id"),
            lit(t).as("tag")))), "lake_batches")
    }
    if (deadTags.nonEmpty)
      m("dead") = write(union(deadTags.map(t =>
        LakeSink.read(spark, dir.resolve(s"dead_$t").toString, "date")
          .select(col("body"), col("reason"), lit(t).as("tag")))), "dead")
    if (ledgerTags.nonEmpty)
      m("ledger") = write(union(ledgerTags.map(t =>
        WebhookDelivery.ledger(spark, dir.resolve(s"ledger_$t").toString)
          .select("key", "status", "batch_id"))), "ledger")
    m.toMap
  }

  def tree(p: Path, suffix: String): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val fs = Files.walk(p).iterator().asScala
        .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(suffix))
        .toSeq
      (fs.size.toLong, fs.map(Files.size).sum)
    }

  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }

  /** Per-layer counters of the streaming workloads (traced runs only). */
  def streamLayers(probe: Probe, clocks: Seq[SinkClock], dir: Path): Map[String, Any] = {
    val tags = clocks.map(_.tag)
    def all(f: SinkClock => ConcurrentHashMap[Long, Double]) =
      clocks.flatMap(c => f(c).values.asScala)
    probe.settle()
    val bs = probe.batches.synchronized(probe.batches.toList)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def dur(k: String) = mean(bs.map(_.durations(k).toDouble))
    val files = tags.map(t => tree(dir.resolve(s"lake_$t"), ".parquet"))
    Map(
      "sources.latest_offset_ms" -> dur("latestOffset"),
      "sources.get_batch_ms" -> dur("getBatch"),
      "sources.empty_batches" -> probe.emptyBatches,
      "sources.backlog_max" -> (if (bs.isEmpty) 0L else bs.map(_.backlog).max),
      "streaming.batches" -> bs.size,
      "streaming.rows_per_batch_p50" -> pct(bs.map(_.rows.toDouble), 0.5),
      "streaming.query_planning_ms" -> dur("queryPlanning"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.commit_offsets_ms" -> dur("commitOffsets"),
      "streaming.trigger_ms_p50" -> pct(bs.map(_.durations("triggerExecution").toDouble), 0.5),
      "streaming.state_rows" -> (if (bs.isEmpty) 0L else bs.last.stateRows),
      "streaming.state_commit_ms" -> mean(bs.map(_.stateCommitMs.toDouble)),
      "sinks.lake_apply_ms_p50" -> pct(all(_.lakeApplyMs), 0.5),
      "sinks.lake_files" -> files.map(_._1).sum,
      "sinks.lake_bytes" -> files.map(_._2).sum,
      "sinks.deliver_ms_p50" -> pct(all(_.deliverMs), 0.5),
      "sinks.ledger_files" -> tags.map(t => tree(dir.resolve(s"ledger_$t"), ".parquet")._1).sum)
  }

  def clockJson(clock: SinkClock): Seq[Map[String, Any]] =
    clock.lakeDoneUs.asScala.toSeq.sortBy(_._1).map { case (b, us) =>
      Map("tag" -> clock.tag, "batch_id" -> b, "done_us" -> us)
    }

  /** A processor restart with a backlog, then live traffic.
    *
    * Drain phase: rounds of queueing a burst in-process (`WebhookQueue.post`,
    * WAL on), then starting a fresh query that drains it `maxRowsPerBatch`
    * rows at a time; the front door and outbound delivery do no work.
    *
    * Live phase: a fresh query with outbound delivery; the generator process
    * then sends open-loop HTTP traffic through the front door until `STOP`.
    */
  def webhook(spark: SparkSession, dir: Path, opt: Map[String, String],
              probe: Option[Probe]): Map[String, Any] = {
    val maxRows = opt("max-rows").toLong
    val lines = Files.readAllLines(Paths.get(opt("inputs")), UTF_8).asScala
      .map(_.split("\t", -1)).toIndexedSeq
    val byRound = lines.groupBy(_(0).toInt)
    WebhookQueue.enableDurability(dir.resolve("wal").toString)
    val port = WebhookQueue.startServer(0)
    val setup = setupSeconds
    val rt = new Runtime
    rt.start()
    emit("READY", Map("setup_s" -> setup))
    val posts = new java.lang.StringBuilder
    val drains = mutable.ArrayBuffer[Map[String, Any]]()
    val clocks = mutable.ArrayBuffer[SinkClock]()
    for (r <- byRound.keys.toSeq.sorted) {
      val burst = byRound(r)
      val sent = new java.util.HashMap[String, String]()
      var i = 0
      while (i < burst.length) {
        val Array(_, slot, key, kind, tmpl) = burst(i)
        val due = Clock.nowUs
        // a `dup` re-sends exactly the body its key was first sent with
        val body = kind match {
          case "new" => val b = tmpl.replace("@DUE@", due.toString); sent.put(key, b); b
          case "dup" => sent.get(key)
          case _ => tmpl
        }
        val a = System.nanoTime()
        val id = WebhookQueue.post("events", body, key)
        val b = System.nanoTime()
        posts.append(slot).append('\t').append(if (id >= 0) 200 else 503)
          .append('\t').append(due).append('\t').append(b - a).append('\n')
        i += 1
      }
      val c = new SinkClock(s"r$r")
      val t0 = System.nanoTime()
      val q = startPipeline(spark, dir, c, Some(maxRows), None, probe.isDefined)
      q.processAllAvailable()
      val t1 = System.nanoTime()
      q.stop()
      note(s"round $r drained")
      drains += Map("round" -> r, "events" -> burst.length, "drain_s" -> (t1 - t0) / 1e9)
      clocks += c
    }
    Files.writeString(dir.resolve("posts.tsv"), posts.toString)

    val live = new SinkClock("live")
    clocks += live
    val q = startPipeline(spark, dir, live, Some(maxRows), Some(opt("endpoint")),
      probe.isDefined)
    q.processAllAvailable()
    note("live query started")
    emit("LIVE", Map("port" -> port))
    val stdin = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    var line = stdin.readLine()
    while (line != null && line.trim != "STOP") line = stdin.readLine()
    q.processAllAvailable()
    val runtime = rt.stop()
    q.stop()
    note("live query stopped")
    WebhookQueue.stopServer()
    WebhookQueue.disableDurability()
    val tags = clocks.map(_.tag).toSeq
    val layers = probe.map(p => streamLayers(p, clocks.toSeq, dir)).getOrElse(Map.empty)
    Map("setup_s" -> setup, "runtime" -> runtime, "layers" -> layers,
      "drains" -> drains.toList,
      "batches" -> clocks.flatMap(clockJson).toList,
      "posts" -> dir.resolve("posts.tsv").toString,
      "dump" -> dump(spark, dir, tags))
  }

  // ------------------------------------------------------------- lake side

  /** The hot-table cache is built in set-up; a first untimed pass writes
    * each result for the oracle check and an untimed sweep lets the JIT settle.
    * Timed sweeps follow until `seconds` is spent, at least three. A sweep
    * is `rounds` rounds over the list; `--queries name:every,...` calls a
    * query in every `every`-th round of a sweep, so a long query need not
    * stretch the sweep while the short ones give several samples. No query
    * runs twice in a row: a repeated call runs faster than one that follows
    * another query.
    */
  def lakeQueries(spark: SparkSession, dir: Path, opt: Map[String, String],
                  seconds: Double, probe: Option[Probe]): Map[String, Any] = {
    val sf = opt("sf")
    val every = opt("queries").split(",").toSeq.map { q =>
      val Array(n, k) = q.split(":")
      n -> k.toInt
    }
    val names = every.map(_._1)
    val fns = names.map(n => n -> SparkEntry.queries(n))
    val rounds = opt("rounds").toInt
    val c0 = System.nanoTime()
    opt("tables").split(",").foreach(t => Tables(spark, sf, t))
    val cacheS = (System.nanoTime() - c0) / 1e9
    val setup = setupSeconds
    emit("READY", Map("setup_s" -> setup))
    val oracle = SparkEntry.oracleSql
    Files.writeString(dir.resolve("oracle_sql.json"),
      Json(names.map(n => n -> oracle(n)).toMap))
    note(f"tables cached in $cacheS%.3f s")
    val results = dir.resolve("results")
    fns.foreach { case (n, fn) =>
      fn(spark, sf).coalesce(1).write.mode("overwrite")
        .parquet(results.resolve(n).toString)
    }
    val samples = mutable.ArrayBuffer[Map[String, Any]]()
    val sc = spark.sparkContext
    val everyOf = every.toMap
    def sweep(timed: Int): Unit =
      for (r <- 0 until rounds; (n, fn) <- fns if r % everyOf(n) == 0) {
        val group = probe.isDefined && timed >= 0
        if (group) sc.setJobGroup(n, n)
        val a = System.nanoTime()
        fn(spark, sf).count()
        val b = System.nanoTime()
        if (group) sc.clearJobGroup()
        if (timed >= 0)
          samples += Map("query" -> n, "sweep" -> timed, "done_ms" -> (b - a) / 1e6)
      }
    // a second untimed sweep: the driver-side planning of the many-job
    // queries is still being compiled by the JIT after the first
    sweep(-1)
    note("warm-up sweeps done")
    val rt = new Runtime
    rt.start()
    val t0 = System.nanoTime()
    var sweeps = 0
    var last = 0.0
    while (sweeps < 3 || (System.nanoTime() - t0) / 1e9 + last <= seconds) {
      val s0 = System.nanoTime()
      sweep(sweeps)
      last = (System.nanoTime() - s0) / 1e9
      sweeps += 1
    }
    val runtime = rt.stop()
    note(s"$sweeps timed sweeps done")
    val layers: Map[String, Any] = probe.map { p =>
      p.settle()
      val slots = sc.defaultParallelism.toDouble
      names.flatMap { n =>
        val c = p.costOf(n)
        val times = samples.filter(_("query") == n).map(_("done_ms").asInstanceOf[Double] / 1e3)
        val calls = times.size.toDouble
        val taskS = c.taskNs / 1e9 / calls
        Seq(
          s"operators.$n.s" -> pct(times.toSeq, 0.5),
          s"operators.$n.jobs" -> c.jobs.toDouble / calls,
          s"operators.$n.stages" -> c.stages.toDouble / calls,
          s"operators.$n.tasks" -> c.tasks.toDouble / calls,
          s"operators.$n.task_s" -> taskS,
          s"operators.$n.shuffle_bytes" -> c.shuffleBytes.toDouble / calls,
          s"operators.$n.spill_bytes" -> c.spillBytes.toDouble / calls,
          s"operators.$n.driver_floor_s" ->
            math.max(0.0, times.sum / calls - taskS / slots))
      }.toMap
    }.getOrElse(Map.empty)
    Map("setup_s" -> setup, "runtime" -> runtime, "sweeps" -> sweeps,
      "samples" -> samples.toList, "results" -> results.toString,
      "layers" -> (layers ++ Map("tables.cache_s" -> cacheS)))
  }
}

/** Minimal JSON writer for the result line. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
