package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkEntry
import graft.operators.ManifestLog
import graft.pipeline.BatchCompiler
import graft.sources.ManifestBatchSource
import graft.spec.Spec
import graft.streaming.StreamCompiler

/** One benchmark run in one JVM: `PerfBench <config.json>`.
  *
  * The config (written by run.py) names the generated inputs, the
  * measured seconds, the phases of the workload and whether to trace.
  * The run starts a session several times and keeps the last, builds
  * the lake fixtures, makes the workload's discarded warm-up rounds,
  * then runs whole rounds, each phase once, until the measured time is
  * spent.
  * Timings, the outputs the checks read and, traced, the spans go
  * under the work directory; run.py checks and reports.
  */
object PerfBench {
  val mapper = new ObjectMapper()

  final case class Cfg(root: JsonNode) {
    def str(path: String*): String = node(path: _*).asText
    def int(path: String*): Int = node(path: _*).asInt
    def dbl(path: String*): Double = node(path: _*).asDouble
    def node(path: String*): JsonNode = path.foldLeft(root)((n, k) => n.get(k))
  }

  /** Per-phase timings and outputs of the whole run. */
  final class Results {
    val times = mutable.LinkedHashMap.empty[String, mutable.Buffer[Double]]
    val values = mutable.LinkedHashMap.empty[String, Any]
    def add(key: String, v: Double): Unit = times.getOrElseUpdate(key, mutable.Buffer.empty) += v
  }

  def main(args: Array[String]): Unit = {
    val cfg = Cfg(mapper.readTree(Paths.get(args(0)).toFile))
    val work = cfg.str("workdir")
    val tracer = new Tracer(cfg.int("trace") == 1, s"${cfg.str("workload")}-${cfg.int("seed")}")
    val res = new Results
    val bench = new Bench(cfg, work, tracer, res)
    try bench.run()
    finally bench.close()
    tracer.write(s"$work/spans.ndjson")
    val out = mutable.LinkedHashMap[String, Any](
      "times" -> res.times.map { case (k, v) => k -> v.asJava }.asJava,
      "values" -> res.values.asJava)
    Files.write(Paths.get(s"$work/result.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(out.asJava))
  }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, ms(t0))
  }

  def dirBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def writeLines(path: String, lines: Iterator[String]): Unit = {
    val w = Files.newBufferedWriter(Paths.get(path), StandardCharsets.UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  /** (utime + stime) in ms of a /proc `stat` line: fields 14 and 15,
    * counted after the parenthesised command name, in 1/100 s. */
  private def statCpuMs(stat: String, first: Int): Double = {
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
    (f(first - 3).toLong + f(first - 2).toLong) * 10.0
  }

  /** CPU time used so far by this JVM and the processes it started,
    * less the JIT compiler threads': the JVM's own, its reaped
    * children's (`cutime` + `cstime`) and its live descendants' (the
    * pooled jq processes). Time the host takes away from this machine's
    * CPUs is not in it, and neither is the compilation still going on
    * after the warm-up rounds, so it holds steadier than wall time. */
  def cpuMs(): Double = {
    val own = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6
    def read(p: java.nio.file.Path): Option[String] =
      try Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
      catch { case _: java.io.IOException => None } // a thread that just ended
    val reaped = statCpuMs(read(Paths.get("/proc/self/stat")).get, 16)
    val live = ProcessHandle.current().descendants().iterator().asScala
      .map(_.info().totalCpuDuration().map[Long](_.toNanos).orElse(0L) / 1e6).sum
    val tasks = Files.list(Paths.get("/proc/self/task"))
    val jit = try tasks.iterator().asScala.flatMap(t => read(t.resolve("stat")))
      .filter(_.contains("CompilerThre")).map(statCpuMs(_, 14)).sum
    finally tasks.close()
    own + reaped + live - jit
  }

  /** Heap still used after full collections. Spark frees shuffle,
    * broadcast and checkpoint blocks from a cleaner thread once their
    * owners are collected, so collect, give the cleaner time, and keep
    * the lowest of three readings. */
  def heapUsedMb(): Double = (0 until 3).map { _ =>
    System.gc()
    Thread.sleep(300)
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min
}

final class Bench(cfg: PerfBench.Cfg, work: String, tracer: Tracer, res: PerfBench.Results) {
  import PerfBench._

  private var spark: SparkSession = _
  private val cores = cfg.int("cores")
  private val phases = cfg.node("phases").elements().asScala.map(_.asText).toSet

  private val lakeDir = cfg.str("lake", "dir")
  private val serveDir = cfg.str("serve", "dir")
  private val churnPath = s"$work/lake-churn"
  private val servePath = s"$work/lake-serve"
  private var cycle = 0 // next lake_churn cycle to run
  private val maxCycles = cfg.int("lake", "cycles")
  private var warm = true // the warm-up rounds' timings are discarded
  private var streamRuns = 0

  private def record(key: String, v: Double): Unit = if (!warm) res.add(key, v)

  // wall and CPU time of work inside a round that is not the workload's
  // own: gathering outputs for the checks, and the GC between phases
  private var offWallMs = 0.0
  private var offCpuMs = 0.0

  /** Run `body` with the round's clocks stopped. */
  private def offClock[T](body: => T): T = {
    val c0 = cpuMs()
    val t0 = System.nanoTime()
    try body
    finally {
      offWallMs += ms(t0)
      offCpuMs += cpuMs() - c0
    }
  }

  private def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.stopTimeout", "10000")
      // the status store keeps few finished jobs, so retained heap
      // shows the program's own state rather than Spark's history
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.streaming.ui.retainedBatches", "50")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def close(): Unit = if (spark != null) {
    spark.streams.active.foreach(_.stop())
    tracer.detach()
    spark.stop()
  }

  def run(): Unit = {
    res.values("jvm_start_ms") = System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val setups = cfg.int("setups")
    val setupMs = (0 until setups).map { i =>
      if (spark != null) { spark.stop(); spark = null }
      val (_, t) = timed(setUp())
      System.err.println(f"[perfbench] set-up $i $t%.0f ms")
      t
    }
    res.values("setup_ms") = setupMs.asJava
    res.values("fixture_ms") = timed(buildFixtures())._2
    val heap0 = if (tracer.enabled) heapUsedMb() else 0.0

    // the discarded warm-up rounds, then whole measured rounds; the
    // traced run records spans of the measured rounds only
    res.values("warmup_ms") = timed((0 until cfg.int("warmup_rounds")).foreach(_ => round()))._2
    warm = false
    tracer.attach(spark)
    val budgetNs = (cfg.dbl("seconds") * 1e9).toLong
    val t0 = System.nanoTime()
    var rounds = 0
    while (System.nanoTime() - t0 < budgetNs && !(phases("lake") && cycle >= maxCycles)) {
      offWallMs = 0.0
      offCpuMs = 0.0
      val cpu0 = cpuMs()
      val wall = timed(round())._2
      record("round_ms", wall - offWallMs)
      record("round_cpu_ms", cpuMs() - cpu0 - offCpuMs)
      rounds += 1
    }
    res.values("rounds") = rounds
    res.values("measured_s") = (System.nanoTime() - t0) / 1e9
    if (phases("lake")) finishLake()
    if (phases("battery")) Files.write(Paths.get(s"$work/battery/oracle_sql.json"),
      mapper.writeValueAsBytes(batteryQueries.map(q => q -> SparkEntry.oracleSql(q)).toMap.asJava))
    if (phases("lake_read"))
      res.values("lake_serve_live_files") = ManifestLog.snapshot(spark, servePath).count()
    val heap1 = heapUsedMb()
    res.values("heap_retained_mb") = heap1
    if (tracer.enabled)
      // heap0 was read before the warm-up rounds: every cycle counts
      res.values("heap_per_cycle_mb") = (heap1 - heap0) / math.max(1, cycle)
  }

  /** One set-up: a fresh session that has resolved the workload's
    * input files (schemas only; the data is read by the phases). */
  private def setUp(): Unit = {
    spark = newSession()
    if (phases("lake")) spark.read.parquet(s"$lakeDir/init.parquet")
    if (phases("lake_read")) spark.read.parquet(s"$serveDir/init.parquet")
    if (phases("ann")) spark.read.parquet(s"${cfg.str("ann", "dir")}/embeddings.parquet")
    if (phases("battery")) Seq("lineitem", "orders", "customer", "events")
      .foreach(t => spark.read.parquet(s"${cfg.str("battery", "dir")}/$t.parquet"))
  }

  /** The lake tables the last set-up's session works on. */
  private def buildFixtures(): Unit = {
    // lake_churn's initial table
    if (phases("lake")) {
      ManifestLog.write(spark.read.parquet(s"$lakeDir/init.parquet"), "k", churnPath,
        files = cfg.int("lake", "files"))
      churnVersion = ManifestLog.currentVersion(spark, churnPath)
      churnBytes = dirBytes(churnPath)
    }
    // query_serve's versioned table: the initial load and its edits
    if (phases("lake_read")) {
      ManifestLog.write(spark.read.parquet(s"$serveDir/init.parquet"), "k", servePath,
        files = cfg.int("serve", "files"))
      cfg.node("serve", "ops").elements().asScala.foreach { op =>
        val df = spark.read.parquet(s"$serveDir/${op.get("file").asText}")
        op.get("op").asText match {
          case "merge" => ManifestLog.merge(df, "k", servePath, files = 2)
          case "delete_mor" => ManifestLog.deleteMor(df, "k", servePath)
        }
      }
    }
  }

  /** Each of the workload's phases once, after a full GC. */
  private def round(): Unit = Seq[(String, () => Unit)](
      "replay" -> (() => replay("compiled")), "jq" -> (() => replay("subprocess")),
      "drain" -> (() => streamDrain()), "live" -> (() => streamLive()),
      "lake" -> (() => lakeCycle()), "lake_read" -> (() => lakeRead()),
      "ann" -> (() => ann()), "battery" -> (() => battery()))
    .filter { case (phase, _) => phases(phase) }
    .foreach { case (phase, body) =>
      offClock(System.gc())
      val (_, t) = timed(body())
      System.err.println(f"[perfbench] ${if (warm) "warm-up" else "measured"} $phase%s $t%.0f ms")
    }

  // ---------------------------------------------------------------- pipeline

  private def replayYaml(tier: String): String =
    s"""name: replay
       |window-key: name
       |jq-tier: $tier
       |input:
       |  file:
       |    path: "${cfg.str("replay", "ndjson")}"
       |steps:
       |  classify:
       |    flatmap:
       |      rename:
       |        prepend: "app."
       |  aggregate:
       |    after: [classify]
       |    match/drop:
       |      not: "app.noise"
       |    window:
       |      events: ${cfg.int("replay", "window")}
       |    reduce:
       |      send-receive-jq: '{n: "agg", d: {sum: (map(.d.k) | add), n: length, id0: .[0].d.id, nm: .[0].n}}'
       |""".stripMargin

  /** One batch replay of the event file through the pipeline on `tier`. */
  private def replay(tier: String): Unit = {
    val layer = if (tier == "compiled") "pipeline" else "io"
    val (rows, t) = timed {
      tracer.span(layer, s"replay_$tier") {
        val (compiled, planMs) = timed {
          tracer.span("spec", "plan") {
            val tpl = Spec.parseYaml(replayYaml(tier))
            val input = BatchCompiler.loadInput(spark, tpl, None)
            val stamped = BatchCompiler.stampInput(tpl, input, col("__seq").cast("double"))
            BatchCompiler.compile(spark, tpl, stamped)
          }
        }
        record(s"replay_${tier}_plan_ms", planMs)
        compiled.output.select(
            get_json_object(col("d"), "$.nm").as("nm"),
            get_json_object(col("d"), "$.sum").cast("double").cast("long").as("sum_k"),
            get_json_object(col("d"), "$.n").cast("double").cast("long").as("n_events"),
            get_json_object(col("d"), "$.id0").cast("double").cast("long").as("id0"))
          .collect()
      }
    }
    record(s"replay_${tier}_ms", t)
    offClock(writeLines(s"$work/replay_$tier.csv", rows.iterator.map(r =>
      s"${r.getString(0)},${r.getLong(1)},${r.getLong(2)},${r.getLong(3)}")))
  }

  // --------------------------------------------------------------- streaming

  private val streamYaml: String =
    """name: live
      |steps:
      |  classify:
      |    flatmap:
      |      rename:
      |        prepend: "app."
      |  project:
      |    after: [classify]
      |    match/drop:
      |      not: "app.noise"
      |    flatmap:
      |      keep-when:
      |        type: object
      |        required: [id, k]
      |""".stripMargin

  /** Tail `file` from its start through the streaming pipeline; every
    * micro-batch's (id, name) rows and delivery time are recorded. */
  private final class StreamRun(file: String, expected: Long) {
    val delivered = new ConcurrentLinkedQueue[(Long, Array[(Long, String)])]()
    @volatile var rows = 0L
    private val ck = s"$work/stream-ck-$streamRuns"
    streamRuns += 1
    private val tpl = Spec.parseYaml(streamYaml)
    private val input = StreamCompiler.tailSource(spark, file, "start")
    private val out = StreamCompiler.compile(spark, tpl, input).output.toDF()
      .select(get_json_object(col("d"), "$.id").cast("long").as("id"), col("n"))
    val query = out.writeStream
      .queryName(s"live$streamRuns")
      .trigger(Trigger.ProcessingTime(cfg.int("stream", "trigger_ms").toLong))
      .option("checkpointLocation", ck)
      .foreachBatch { (b: DataFrame, _: Long) =>
        val got = b.collect().map(r => (r.getLong(0), r.getString(1)))
        val now = System.currentTimeMillis()
        delivered.add((now, got))
        rows += got.length
        ()
      }
      .start()
    tracer.link(query.runId.toString)

    /** Wait until every expected row has been delivered (or fail). */
    def await(timeoutMs: Long): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (rows < expected && System.currentTimeMillis() < deadline && query.isActive)
        Thread.sleep(2)
      query.exception.foreach(e => throw e)
      require(rows >= expected, s"stream delivered $rows of $expected rows in time")
    }

    def all: Seq[(Long, Array[(Long, String)])] = delivered.asScala.toSeq
  }

  /** Drain a fixed backlog already in the file. */
  private def streamDrain(): Unit = {
    val expected = cfg.node("stream", "backlog_kept").asLong
    val file = s"$work/drain-$streamRuns.ndjson"
    offClock(Files.copy(Paths.get(cfg.str("stream", "backlog")), Paths.get(file)))
    val (runRef, t) = timed {
      tracer.span("streaming", "drain") {
        val r = new StreamRun(file, expected)
        r.await(30000)
        r.query.stop()
        r
      }
    }
    record("drain_ms", t)
    offClock {
      writeLines(s"$work/drain_ids.csv",
        runRef.all.iterator.flatMap(_._2.iterator.map { case (id, n) => s"$id,$n" }))
      Files.delete(Paths.get(file))
    }
  }

  private lazy val liveLines: IndexedSeq[String] =
    Files.readAllLines(Paths.get(cfg.str("stream", "live")), StandardCharsets.UTF_8)
      .asScala.toIndexedSeq

  /** Open loop: a writer appends events at a fixed rate while the query
    * tails the file; each event's latency runs from when it was due. */
  private def streamLive(): Unit = {
    val lines = liveLines
    val expected = cfg.node("stream", "live_kept").asLong
    val rate = cfg.dbl("stream", "rate")
    val file = s"$work/live-$streamRuns.ndjson"
    Files.write(Paths.get(file), Array.emptyByteArray)
    @volatile var written = 0L
    @volatile var maxLagMs = 0.0
    tracer.progressHook = () => Map("backlog_bytes" -> written)
    tracer.span("streaming", "live") {
      val run = new StreamRun(file, expected)
      // first micro-batch (empty) runs before the clock starts
      val startDeadline = System.currentTimeMillis() + 30000
      while (run.query.lastProgress == null && System.currentTimeMillis() < startDeadline)
        Thread.sleep(5)
      val t0 = System.nanoTime() / 1e6
      val due = new Array[Double](lines.size)
      val w = Files.newOutputStream(Paths.get(file), StandardOpenOption.APPEND)
      try {
        var i = 0
        while (i < lines.size) {
          val now = System.nanoTime() / 1e6 - t0
          val dueNow = (i * 1000.0 / rate)
          if (now < dueNow) Thread.sleep(math.max(1L, (dueNow - now).toLong))
          else {
            // write every line due by now in one append
            val sb = new StringBuilder
            var j = i
            while (j < lines.size && j * 1000.0 / rate <= now) {
              due(j) = t0 + j * 1000.0 / rate
              sb.append(lines(j)).append('\n')
              j += 1
            }
            maxLagMs = math.max(maxLagMs, now - (i * 1000.0 / rate))
            val bytes = sb.toString.getBytes(StandardCharsets.UTF_8)
            w.write(bytes)
            w.flush()
            written += bytes.length
            i = j
          }
        }
      } finally w.close()
      run.await(30000)
      run.query.stop()
      // due times are on the nanoTime clock; delivery stamps are epoch ms
      val skew = System.currentTimeMillis() - System.nanoTime() / 1e6
      offClock {
        val ids = lines.map(l => mapper.readTree(l).get("d").get("id").asLong)
        val dueById: Map[Long, Double] = ids.zip(due.toSeq).toMap
        val lat: Seq[Double] = run.all.flatMap { case (at, rows) =>
          rows.toSeq.map { case (id, _) => at - (dueById(id) + skew) } }
        if (!warm) lat.foreach(l => res.add("live_latency_ms", l))
        writeLines(s"$work/live_ids.csv",
          run.all.iterator.flatMap(_._2.iterator.map { case (id, n) => s"$id,$n" }))
      }
      record("live_generator_lag_ms", maxLagMs)
    }
    tracer.progressHook = () => Map.empty
    offClock(Files.delete(Paths.get(file)))
  }

  // -------------------------------------------------------------------- lake

  private def changeFeedOf(v: Int): (Array[Row], Double) = {
    val (rows, t) = timed {
      tracer.span("lake", "changefeed", "version" -> v) {
        ManifestLog.changeFeed(spark, churnPath, v - 1, v)
          .select("k", "v", "_change_type").collect()
      }
    }
    record("lake_changefeed_ms", t)
    (rows, t)
  }

  private var bytesWritten = 0L
  private var bytesInput = 0L
  // the churned table's version and bytes after its last op
  private var churnVersion = 0
  private var churnBytes = 0L

  /** One cycle of lake_churn's op sequence; a change-feed read follows
    * every op that commits a version. */
  private def lakeCycle(): Unit = {
    val c = cycle
    cycle += 1
    val base = s"$lakeDir/c$c"
    val files = cfg.int("lake", "op_files")
    val ops: Seq[(String, () => Any)] = Seq(
      "append" -> (() => ManifestLog.append(spark.read.parquet(s"$base-append.parquet"), "k",
        churnPath, files = files)),
      "merge" -> (() => ManifestLog.merge(spark.read.parquet(s"$base-merge.parquet"), "k",
        churnPath, files = files)),
      "delete_mor" -> (() => ManifestLog.deleteMor(spark.read.parquet(s"$base-dmor.parquet"),
        "k", churnPath)),
      "delete" -> (() => ManifestLog.delete(spark.read.parquet(s"$base-del.parquet"), "k",
        churnPath, files = files)),
      "compact" -> (() => ManifestLog.compact(spark, churnPath, "k",
        cfg.node("lake", "target_rows").asLong)),
      "checkpoint" -> (() => ManifestLog.checkpointLog(spark, churnPath)),
      "vacuum" -> (() => ManifestLog.vacuum(spark, churnPath, retain = 2, minAgeMs = 0L)))
    val log = mutable.Buffer.empty[String]
    val feeds = mutable.Buffer.empty[(Int, Array[Row])]
    var commitMs = 0.0
    var cfMs = 0.0
    ops.foreach { case (name, op) =>
      val before = churnVersion
      val (_, t) = timed(tracer.span("lake", name, "cycle" -> c)(op()))
      commitMs += t
      record(s"lake_${name}_ms", t)
      val after = offClock {
        val bytes = dirBytes(churnPath)
        if (name != "vacuum") bytesWritten += math.max(0L, bytes - churnBytes)
        churnBytes = bytes
        churnVersion = ManifestLog.currentVersion(spark, churnPath)
        churnVersion
      }
      log += s"$c,$name,$before,$after"
      if (after > before) {
        val (rows, tc) = changeFeedOf(after)
        cfMs += tc
        feeds += after -> rows
      }
    }
    record("lake_commit_cycle_ms", commitMs)
    record("lake_changefeed_cycle_ms", cfMs)
    // the model check reads the op log, every change feed and the table
    // after every cycle
    offClock {
      bytesInput += Seq("append", "merge", "dmor", "del")
        .map(op => dirBytes(s"$base-$op.parquet")).sum
      res.values("lake_bytes_written") = bytesWritten
      res.values("lake_bytes_input") = bytesInput
      feeds.foreach { case (v, rows) =>
        writeLines(s"$work/lake_cf_$v.csv",
          rows.iterator.map(r => s"${r.getLong(0)},${r.getLong(1)},${r.getString(2)}"))
      }
      Files.write(Paths.get(s"$work/lake_ops.csv"), (log.mkString("\n") + "\n").getBytes,
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      val live = ManifestLog.read(spark, churnPath).select("k", "v").collect()
      writeLines(s"$work/lake_read_$c.csv",
        live.iterator.map(r => s"${r.getLong(0)},${r.getLong(1)}"))
    }
  }

  /** Space and log figures of the churned table, once at the end. */
  private def finishLake(): Unit = {
    val fresh = s"$work/lake-fresh"
    ManifestLog.read(spark, churnPath).write.mode("overwrite").parquet(fresh)
    val tableBytes = dirBytes(churnPath)
    res.values("lake_table_bytes") = tableBytes
    res.values("lake_fresh_bytes") = dirBytes(fresh)
    res.values("lake_log_bytes") = dirBytes(s"$churnPath/_mlog")
    res.values("lake_live_files") = ManifestLog.snapshot(spark, churnPath).count()
  }

  // --------------------------------------------------------------- lake read

  private def agg(df: DataFrame): String = {
    val r = df.agg(count(lit(1)), coalesce(sum("k"), lit(0L)), coalesce(sum("v"), lit(0L)))
      .collect()(0)
    s"${r.getLong(0)},${r.getLong(1)},${r.getLong(2)}"
  }

  /** Version, pruned-range and change-feed reads through the SQL face. */
  private def lakeRead(): Unit = {
    val head = ManifestLog.currentVersion(spark, servePath)
    val out = mutable.Buffer.empty[String]
    val (_, t) = timed {
      (1 to head).foreach { v =>
        val (s, tv) = timed(tracer.span("lake_read", "version", "version" -> v) {
          agg(ManifestBatchSource.read(spark, servePath, versionAsOf = v))
        })
        record("lake_read_version_ms", tv)
        out += s"version,$v,$s"
      }
      cfg.node("serve", "ranges").elements().asScala.zipWithIndex.foreach { case (r, i) =>
        val lo = r.get(0).asLong; val hi = r.get(1).asLong
        val (s, tp) = timed(tracer.span("lake_read", "pruned", "range" -> i) {
          agg(ManifestBatchSource.read(spark, servePath).filter(col("k").between(lo, hi)))
        })
        record("lake_read_pruned_ms", tp)
        out += s"range,$i,$s"
      }
      (2 to head).foreach { v =>
        val (rows, tc) = timed(tracer.span("lake_read", "changefeed", "version" -> v) {
          ManifestBatchSource.readChangeFeed(spark, servePath, v, v)
            .groupBy("_change_type")
            .agg(count(lit(1)), coalesce(sum("k"), lit(0L)), coalesce(sum("v"), lit(0L)))
            .collect()
        })
        record("lake_read_cf_ms", tc)
        rows.sortBy(_.getString(0)).foreach(r =>
          out += s"cf_${r.getString(0)},$v,${r.getLong(1)},${r.getLong(2)},${r.getLong(3)}")
      }
    }
    record("lake_read_ms", t)
    offClock(writeLines(s"$work/lake_serve.csv", out.iterator))
  }

  // --------------------------------------------------------------------- ann

  private val annQueries = Seq(
    "lsh" -> "emb_ann_lsh", "pq" -> "emb_ann_pq_batch",
    "ivf" -> "emb_ann_ivf", "binary" -> "emb_ann_binary")

  /** ANN top-k through the battery's own entry points and parameters. */
  private def ann(): Unit = {
    val dir = cfg.str("ann", "dir")
    var total = 0.0
    val found = annQueries.map { case (short, q) =>
      val (rows, t) = timed(tracer.span("ann", short) {
        SparkEntry.queries(q)(spark, dir).select("qid", "nid").collect()
      })
      total += t
      record(s"ann_${short}_ms", t)
      short -> rows
    }
    record("ann_ms", total)
    offClock(found.foreach { case (short, rows) =>
      writeLines(s"$work/ann_$short.csv", rows.iterator.map(r => s"${r.getLong(0)},${r.getLong(1)}"))
    })
  }

  // ----------------------------------------------------------------- battery

  private val batteryDir = cfg.str("battery", "dir")
  private val batteryQueries = cfg.node("battery", "queries").elements().asScala.map(_.asText).toSeq

  /** The battery subset over the generated tables. Measured rounds
    * write each result in full to the noop sink; the warm-up rounds
    * write it as parquet, the rows the oracle check reads. */
  private def battery(): Unit = {
    var total = 0.0
    batteryQueries.foreach { q =>
      val (_, t) = timed(tracer.span("battery", q) {
        val w = SparkEntry.queries(q)(spark, batteryDir).write.mode("overwrite")
        if (warm) w.parquet(s"$work/battery/$q") else w.format("noop").save()
      })
      total += t
      record(s"battery_${q}_ms", t)
    }
    record("battery_ms", total)
  }
}
