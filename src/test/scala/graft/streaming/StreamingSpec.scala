package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.model.TracePoint
import graft.spec.Spec

class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def ev(n: String, d: String, seq: Long): SEvent =
    SEvent(n, d, Seq(TracePoint(1000.0 + seq, "t", "h")), 1000.0 + seq, seq)

  private var queryId = 0
  private def runToMemory[T](ds: org.apache.spark.sql.Dataset[T],
                             triggerMs: Long = 0): (String, org.apache.spark.sql.streaming.StreamingQuery) = {
    queryId += 1
    val name = s"strout$queryId"
    var w = ds.writeStream.format("memory").queryName(name).outputMode("append")
    if (triggerMs > 0)
      w = w.trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(triggerMs))
    (name, w.start())
  }

  /** Poll until the memory table holds `n` rows — processAllAvailable
    * never returns on a timer-armed stateful query (every batch has
    * pending timers), so timeout tests must poll.
    */
  private def awaitRows(name: String, n: Long, timeoutMs: Long = 20000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (spark.table(name).count() < n && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(spark.table(name).count() >= n, s"timed out waiting for $n rows in $name")
  }

  test("count-arm hybrid vectors close at maxEvents across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SEvent]
    val vecs = StreamingWindows.hybridVectors(mem.toDS(), _.n, maxEvents = 3, maxSeconds = -1)
    val (name, q) = runToMemory(vecs.map(v => (v.key, v.vecId, v.events.map(_.d).mkString(","))))
    mem.addData(ev("a", "1", 1), ev("a", "2", 2))
    q.processAllAvailable()
    assert(spark.table(name).count() == 0) // buffer open at 2 of 3
    mem.addData(ev("a", "3", 3), ev("a", "4", 4), ev("b", "9", 5))
    q.processAllAvailable()
    val rows = spark.table(name).collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(rows.toSet == Set(("a", 0L, "1,2,3"))) // a's first vector closed; 4 and b buffered
    mem.addData(ev("b", "8", 6), ev("b", "7", 7))
    q.processAllAvailable()
    val rows2 = spark.table(name).collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(rows2.toSet == Set(("a", 0L, "1,2,3"), ("b", 0L, "9,8,7")))
    q.stop()
  }

  test("an event arriving after a buffer's deadline never joins it (hybrid)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SEvent]
    val vecs = StreamingWindows.hybridVectors(mem.toDS(), _.n, maxEvents = 10, maxSeconds = 0.3)
    val (name, q) = runToMemory(
      vecs.map(v => (v.vecId, v.events.map(_.d).mkString(","))), triggerMs = 100)
    mem.addData(ev("a", "1", 1))
    awaitRows(name, 1) // deadline passed: [1] flushed partial
    mem.addData(ev("a", "2", 2))
    awaitRows(name, 2) // 2 opened a NEW buffer (flushed by its own timer)
    val rows = spark.table(name).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSet == Set((0L, "1"), (1L, "2")))
    q.stop()
  }

  test("time-arm flushes partial vectors on processing-time timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SEvent]
    val vecs = StreamingWindows.hybridVectors(mem.toDS(), _.n, maxEvents = 100, maxSeconds = 1.0)
    val (name, q) = runToMemory(vecs.map(v => (v.key, v.events.map(_.d).mkString(","))), triggerMs = 200)
    mem.addData(ev("a", "1", 1), ev("a", "2", 2))
    awaitRows(name, 1) // the 1s timer flushes the partial vector
    val rows = spark.table(name).collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSet == Set(("a", "1,2")))
    q.stop()
  }

  test("flatmap size-1 windows don't care about timeouts (reference step.ts:6-28)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SEvent]
    val vecs = StreamingWindows.flatmapVectors(mem.toDS(), _.n, maxEvents = 1, maxSeconds = 10.0)
    // timer-armed stateful query: poll, never processAllAvailable
    val (name, q) = runToMemory(
      vecs.map(v => (v.vecId, v.events.map(_.d).mkString(","))), triggerMs = 100)
    mem.addData(ev("a", "1", 1), ev("a", "2", 2), ev("a", "3", 3), ev("a", "4", 4))
    awaitRows(name, 4)
    val rows = spark.table(name).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSet == Set((0L, "1"), (1L, "2"), (2L, "3"), (3L, "4")))
    q.stop()
  }

  test("flatmap sliding windows reproduce the reference golden incl. timer partials (step.ts:30-59)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SEvent]
    val vecs = StreamingWindows.flatmapVectors(mem.toDS(), _.n, maxEvents = 3, maxSeconds = 1.0)
    val (name, q) = runToMemory(
      vecs.map(v => (v.vecId, v.events.map(_.d).mkString(","))), triggerMs = 200)
    mem.addData(ev("a", "1", 1), ev("a", "2", 2), ev("a", "3", 3),
      ev("a", "4", 4), ev("a", "5", 5))
    // full windows close live on the count arm...
    awaitRows(name, 3)
    val live = spark.table(name).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(live.toSet == Set((0L, "1,2,3"), (1L, "2,3,4"), (2L, "3,4,5")))
    // ...then the two tail buffers flush partial on their timers
    awaitRows(name, 5)
    val all = spark.table(name).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(all.toSet == Set((0L, "1,2,3"), (1L, "2,3,4"), (2L, "3,4,5"),
      (3L, "4,5"), (4L, "5")))
    q.stop()
  }

  test("flatmap streaming matches the batch sliding-window assignment (differential)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = (1 to 8).map(i => ev(if (i % 2 == 0) "even" else "odd", i.toString, i))
    // batch truth: per-key sliding frame of the next 3 events
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("n").orderBy("ts", "seq")
    val expected = events.toDF()
      .withColumn("vecId", org.apache.spark.sql.functions.row_number().over(w) - 1)
      .withColumn("members", org.apache.spark.sql.functions.array_join(
        org.apache.spark.sql.functions.collect_list(org.apache.spark.sql.functions.col("d"))
          .over(w.rowsBetween(0, 2)), ","))
      .select("n", "vecId", "members").collect()
      .map(r => (r.getString(0), r.getInt(1).toLong, r.getString(2))).toSet
    val mem = MemoryStream[SEvent]
    val vecs = StreamingWindows.flatmapVectors(mem.toDS(), _.n, maxEvents = 3, maxSeconds = 0.3)
    val (name, q) = runToMemory(
      vecs.map(v => (v.key, v.vecId, v.events.map(_.d).mkString(","))), triggerMs = 100)
    mem.addData(events: _*)
    awaitRows(name, events.size.toLong) // every event heads exactly one vector
    val got = spark.table(name).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(got == expected)
    q.stop()
  }

  test("flatmap keep through the stream compiler truncates every sliding vector") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tpl = Spec.parseYaml(
      """name: fk
        |steps:
        |  head2:
        |    window:
        |      events: 3
        |      seconds: 1
        |    flatmap:
        |      keep: 2
        |""".stripMargin)
    val mem = MemoryStream[SEvent]
    val compiled = StreamCompiler.compile(spark, tpl, mem.toDS())
    val (name, q) = runToMemory(compiled.output.map(_.d), triggerMs = 100)
    mem.addData(ev("a", "1", 1), ev("a", "2", 2), ev("a", "3", 3), ev("a", "4", 4))
    // vectors (1,2,3),(2,3,4) close live; (3,4),(4) flush on timers;
    // keep-first-2 truncates each => 1,2, 2,3, 3,4, 4
    awaitRows(name, 7)
    val rows = spark.table(name).collect().map(_.getString(0)).sorted
    assert(rows.toSeq == Seq("1", "2", "2", "3", "3", "4", "4"))
    q.stop()
  }

  test("streaming pipeline: rename + windowed jq through the stream compiler") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def tpl(header: String) = Spec.parseYaml(
      s"""name: sp
         |$header
         |steps:
         |  mark:
         |    flatmap:
         |      rename:
         |        prepend: "s."
         |  agg:
         |    after: [mark]
         |    window:
         |      events: 2
         |    reduce:
         |      send-receive-jq: '{n: "agg", d: (map(.d) | add)}'
         |""".stripMargin)
    def run(header: String, events: SEvent*): Set[(String, String)] = {
      val mem = MemoryStream[SEvent]
      val compiled = StreamCompiler.compile(spark, tpl(header), mem.toDS())
      val (name, q) = runToMemory(compiled.output.map(e => (e.n, e.d)))
      mem.addData(events: _*)
      q.processAllAvailable()
      val rows = spark.table(name).collect().map(r => (r.getString(0), r.getString(1)))
      q.stop()
      rows.toSet
    }
    assert(run("", ev("x", "1", 1), ev("x", "2", 2), ev("x", "10", 3), ev("x", "20", 4)) ==
      Set(("agg", "3"), ("agg", "30")))
    // window-key: global shares one window across names, as in batch
    assert(run("window-key: global",
      ev("x", "1", 1), ev("y", "2", 2), ev("x", "10", 3), ev("y", "20", 4)) ==
      Set(("agg", "3"), ("agg", "30")))
  }

  test("streaming compiled jq tier matches the subprocess tier per event") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def yaml(tier: String) =
      s"""name: cj
         |jq-tier: $tier
         |steps:
         |  sieve:
         |    window:
         |      events: 2
         |    reduce:
         |      send-receive-jq:
         |        jq-expr: '.[].d | if fmod(.; 2) == 0 then empty else . end'
         |        wrap: "odd.one"
         |""".stripMargin
    def run(tier: String): Set[(String, String)] = {
      val mem = MemoryStream[SEvent]
      val compiled = StreamCompiler.compile(spark, Spec.parseYaml(yaml(tier)), mem.toDS())
      val (name, q) = runToMemory(compiled.output.map(e => (e.n, e.d)))
      mem.addData((1 to 8).map(i => ev("g", i.toString, i)): _*)
      q.processAllAvailable()
      val rows = spark.table(name).collect().map(r => (r.getString(0), r.getString(1))).toSet
      q.stop()
      rows
    }
    val expected = Set("1", "3", "5", "7").map(("odd.one", _))
    val viaSub = run("subprocess")
    val viaCompiled = run("compiled")
    assert(viaSub == expected)
    assert(viaCompiled == expected)
  }

  test("streaming compiled jsonnet tier matches batch, binary-free (differential)") {
    assert(sys.env.get("GRAFT_JSONNET_BIN").isEmpty) // precondition: no helper offline
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val yaml =
      """name: sj
        |steps:
        |  agg:
        |    window:
        |      events: 2
        |    reduce:
        |      send-receive-jsonnet: 'function(events) {n: "agg", d: {cnt: std.length(events), hd: events[0].d, lbl: "x-" + std.toString(events[0].n)}}'
        |""".stripMargin
    val tpl = Spec.parseYaml(yaml)
    // per key, a multiple of the window size: every vector closes on
    // the count arm (streaming holds a partial buffer open where batch
    // replay flushes it at end-of-input — not comparable here)
    val input = Seq(("a", "1"), ("b", "7"), ("a", "5"), ("a", "9"), ("b", "3"), ("a", "4"))
    // batch truth through the batch compiled tier (same keyed default)
    val batchIn = input.zipWithIndex
      .map { case ((n, d), i) => (n, d, i.toLong, 1000.0 + i) }
      .toDF("n", "d", "__seq", "arrival")
    val stamped = graft.pipeline.BatchCompiler.stampInput(
      tpl, batchIn, org.apache.spark.sql.functions.col("arrival"))
    val expected = graft.pipeline.BatchCompiler.compile(spark, tpl, stamped)
      .output.select("n", "d").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(expected.size == 3 && expected.forall(_._1 == "agg"))
    // streaming through the stream compiler: byte-identical payloads
    val mem = MemoryStream[SEvent]
    val compiled = StreamCompiler.compile(spark, tpl, mem.toDS())
    val (name, q) = runToMemory(compiled.output.map(e => (e.n, e.d)))
    mem.addData(input.zipWithIndex.map { case ((n, d), i) => ev(n, d, i.toLong) }: _*)
    q.processAllAvailable()
    val got = spark.table(name).collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == expected)
    q.stop()
  }

  test("streaming jsonnet std.foldl matches batch, binary-free (differential)") {
    assert(sys.env.get("GRAFT_JSONNET_BIN").isEmpty) // precondition: no helper offline
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val yaml =
      """name: sf
        |steps:
        |  agg:
        |    window:
        |      events: 2
        |    reduce:
        |      send-receive-jsonnet: 'function(events) {n: "agg", d: {s: std.foldl(function(acc, e) acc + e.d, events, 0), c: std.length(events)}}'
        |""".stripMargin
    val tpl = Spec.parseYaml(yaml)
    val input = Seq(("a", "1"), ("b", "7"), ("a", "5"), ("a", "9"), ("b", "3"), ("a", "4"))
    val batchIn = input.zipWithIndex
      .map { case ((n, d), i) => (n, d, i.toLong, 1000.0 + i) }
      .toDF("n", "d", "__seq", "arrival")
    val stamped = graft.pipeline.BatchCompiler.stampInput(
      tpl, batchIn, org.apache.spark.sql.functions.col("arrival"))
    val expected = graft.pipeline.BatchCompiler.compile(spark, tpl, stamped)
      .output.select("n", "d").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(expected.size == 3 && expected.exists(_._2.contains("\"s\":6.0")))
    val mem = MemoryStream[SEvent]
    val compiled = StreamCompiler.compile(spark, tpl, mem.toDS())
    val (name, q) = runToMemory(compiled.output.map(e => (e.n, e.d)))
    mem.addData(input.zipWithIndex.map { case ((n, d), i) => ev(n, d, i.toLong) }: _*)
    q.processAllAvailable()
    val got = spark.table(name).collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == expected)
    q.stop()
  }

  test("streaming jsonnet widenings (std.join/map, std.format, locals) match batch, binary-free") {
    assert(sys.env.get("GRAFT_JSONNET_BIN").isEmpty)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val yaml =
      """name: sj2
        |jsonnet-prelude: 'local tag(e) = e.n + "=" + std.toString(e.d);'
        |steps:
        |  agg:
        |    window:
        |      events: 2
        |    reduce:
        |      send-receive-jsonnet: 'function(events) {n: "agg", d: {j: std.join("|", std.map(function(e) tag(e), events)), f: std.format("n=%d", [std.length(events)])}}'
        |""".stripMargin
    val tpl = Spec.parseYaml(yaml)
    val input = Seq(("a", "1"), ("b", "7"), ("a", "5"), ("a", "9"), ("b", "3"), ("a", "4"))
    val batchIn = input.zipWithIndex
      .map { case ((n, d), i) => (n, d, i.toLong, 1000.0 + i) }
      .toDF("n", "d", "__seq", "arrival")
    val stamped = graft.pipeline.BatchCompiler.stampInput(
      tpl, batchIn, org.apache.spark.sql.functions.col("arrival"))
    val expected = graft.pipeline.BatchCompiler.compile(spark, tpl, stamped)
      .output.select("n", "d").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(expected.size == 3 && expected.forall(_._1 == "agg"))
    assert(expected.exists(_._2.contains(""""j":"a=1|a=5"""")), expected)
    val mem = MemoryStream[SEvent]
    val compiled = StreamCompiler.compile(spark, tpl, mem.toDS())
    val (name, q) = runToMemory(compiled.output.map(e => (e.n, e.d)))
    mem.addData(input.zipWithIndex.map { case ((n, d), i) => ev(n, d, i.toLong) }: _*)
    q.processAllAvailable()
    val got = spark.table(name).collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == expected)
    q.stop()
  }

  test("streaming jsonnet conditionals match batch, binary-free (differential)") {
    assert(sys.env.get("GRAFT_JSONNET_BIN").isEmpty)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val yaml =
      """name: sj3
        |steps:
        |  agg:
        |    window:
        |      events: 2
        |    reduce:
        |      send-receive-jsonnet: 'function(events) {n: "agg", d: {cls: if std.length(events) > 1 then "pair" else "solo", tag: std.join(",", std.map(function(e) if e.n == "a" then "A" else e.n, events)), ok: std.length(events) >= 1 && !(std.length(events) == 3)}}'
        |""".stripMargin
    val tpl = Spec.parseYaml(yaml)
    // even event counts per key: every streaming count-window closes
    val input = Seq(("a", "1"), ("b", "7"), ("a", "5"), ("b", "3"))
    val batchIn = input.zipWithIndex
      .map { case ((n, d), i) => (n, d, i.toLong, 1000.0 + i) }
      .toDF("n", "d", "__seq", "arrival")
    val stamped = graft.pipeline.BatchCompiler.stampInput(
      tpl, batchIn, org.apache.spark.sql.functions.col("arrival"))
    val expected = graft.pipeline.BatchCompiler.compile(spark, tpl, stamped)
      .output.select("n", "d").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(expected.exists(_._2.contains(""""cls":"pair"""")), expected)
    assert(expected.exists(_._2.contains(""""tag":"A,A"""")), expected)
    val mem = MemoryStream[SEvent]
    val compiled = StreamCompiler.compile(spark, tpl, mem.toDS())
    val (name, q) = runToMemory(compiled.output.map(e => (e.n, e.d)))
    mem.addData(input.zipWithIndex.map { case ((n, d), i) => ev(n, d, i.toLong) }: _*)
    q.processAllAvailable()
    val got = spark.table(name).collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == expected)
    q.stop()
  }

  test("streaming identity-form jsonnet passes events through binary-free") {
    assert(sys.env.get("GRAFT_JSONNET_BIN").isEmpty)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tpl = Spec.parseYaml(
      """name: sji
        |steps:
        |  id:
        |    flatmap:
        |      send-receive-jsonnet: 'function(events) events'
        |""".stripMargin)
    val mem = MemoryStream[SEvent]
    val compiled = StreamCompiler.compile(spark, tpl, mem.toDS())
    val (name, q) = runToMemory(compiled.output.map(e => (e.n, e.d)))
    mem.addData(ev("a", "1", 1), ev("b", "2", 2))
    q.processAllAvailable()
    val rows = spark.table(name).collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows == Set(("a", "1"), ("b", "2")))
    q.stop()
  }

  test("streaming gap sessions match the batch ev_sessionize rows (differential)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val expected = graft.SparkEntry.queries("ev_sessionize")(spark, dir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_id"),
        r.getAs[Long]("n_events"), r.getAs[Long]("start_us"), r.getAs[Long]("end_us"),
        r.getAs[Double]("sum_value"), r.getAs[Long]("dur_us"))).toSet
    val events = graft.sources.Tables.events(spark, dir)
      .select("user_id", "event_id", "ts", "ts_us", "value").collect()
      .map(r => StreamingWindows.SessIn(r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[java.sql.Timestamp]("ts"), r.getAs[Long]("ts_us"), r.getAs[Double]("value")))
      .sortBy(e => (e.tsUs, e.eventId))
    val mem = MemoryStream[StreamingWindows.SessIn]
    val sessions = StreamingWindows.gapSessions(
      mem.toDS().withWatermark("ts", "0 seconds"), 1800L * 1000000L)
    val (name, q) = runToMemory(sessions)
    // event-time order in three micro-batches: sessions split mid-stream
    // close on the gap arm as later events arrive...
    events.grouped(math.max(events.length / 3, 1)).foreach { chunk =>
      mem.addData(chunk.toSeq: _*)
      q.processAllAvailable()
    }
    // ...and a far-future sentinel advances the watermark past every
    // still-open deadline so the tails flush on the timeout arm (the
    // sentinel's own user -1 session stays open, never emitted)
    val lastMs = events.last.ts.getTime
    mem.addData(StreamingWindows.SessIn(-1L, 0L,
      new java.sql.Timestamp(lastMs + 86400000L), (lastMs + 86400000L) * 1000L, 0.0))
    q.processAllAvailable()
    awaitRows(name, expected.size.toLong)
    val got = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5), r.getLong(6)))
      .filter(_._1 >= 0).toSet
    assert(got == expected)
    q.stop()
  }

  test("streaming rolling DAU/WAU matches the batch ev_active_users rows (differential)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val expected = graft.SparkEntry.queries("ev_active_users")(spark, dir).collect()
      .map(r => (r.getAs[Long]("day"), r.getAs[Long]("dau"), r.getAs[Long]("wau"))).toSet
    val events = graft.sources.Tables.events(spark, dir)
      .select("user_id", "event_id", "ts", "ts_us", "value").collect()
      .map(r => StreamingWindows.SessIn(r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[java.sql.Timestamp]("ts"), r.getAs[Long]("ts_us"), r.getAs[Double]("value")))
      .sortBy(e => (e.tsUs, e.eventId))
    val mem = MemoryStream[StreamingWindows.SessIn]
    val out = StreamingWindows.activeUsers(mem.toDS())
    val (name, q) = runToMemory(out)
    // event-time order in three micro-batches: days completed mid-stream
    // emit live as the watermark crosses their end-of-day...
    events.grouped(math.max(events.length / 3, 1)).foreach { chunk =>
      mem.addData(chunk.toSeq: _*)
      q.processAllAvailable()
    }
    // ...and a far-future sentinel flushes the last pending days (its
    // own day never becomes final, and its trailing shadow windows
    // carry no DAU, so it emits nothing — filtered besides)
    val lastUs = events.last.tsUs
    val sentinelUs = lastUs + 8L * 86400000000L
    mem.addData(StreamingWindows.SessIn(-1L, 0L,
      new java.sql.Timestamp(sentinelUs / 1000L), sentinelUs, 0.0))
    q.processAllAvailable()
    awaitRows(name, expected.size.toLong)
    val sentinelDay = sentinelUs / 86400000000L
    val got = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter(_._1 < sentinelDay).toSet
    assert(got == expected,
      s"only-batch=${(expected -- got).take(3)} only-stream=${(got -- expected).take(3)}")
    q.stop()
  }

  test("gap sessions survive a kill/restart from checkpoint (exactly-once differential)") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val expected = graft.SparkEntry.queries("ev_sessionize")(spark, dir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_id"),
        r.getAs[Long]("n_events"), r.getAs[Long]("start_us"), r.getAs[Long]("end_us"),
        r.getAs[Double]("sum_value"), r.getAs[Long]("dur_us"))).toSet
    val events = graft.sources.Tables.events(spark, dir)
      .select("user_id", "event_id", "ts_us", "value").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[Long]("ts_us"), r.getAs[Double]("value")))
      .sortBy(e => (e._3, e._2))
    val base = java.nio.file.Files.createTempDirectory("graft-ckptrep")
    val srcDir = base.resolve("src"); val outDir = base.resolve("out")
    val ckpt = base.resolve("ckpt").toString
    java.nio.file.Files.createDirectories(srcDir)
    def writeChunk(name: String, rows: Seq[(Long, Long, Long, Double)]): Unit = {
      val lines = rows.map { case (u, e, ts, v) =>
        s"""{"user_id":$u,"event_id":$e,"ts_us":$ts,"value":$v}"""
      }
      // atomic publish: the file source must never see a partial file
      val tmp = base.resolve(name + ".tmp")
      java.nio.file.Files.writeString(tmp, lines.mkString("", "\n", "\n"))
      java.nio.file.Files.move(tmp, srcDir.resolve(name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    val schema = "user_id LONG, event_id LONG, ts_us LONG, value DOUBLE"
    def startQuery() = {
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(srcDir.toString)
        .select(org.apache.spark.sql.functions.col("user_id").as("userId"),
          org.apache.spark.sql.functions.col("event_id").as("eventId"),
          org.apache.spark.sql.functions.expr("timestamp_micros(ts_us)").as("ts"),
          org.apache.spark.sql.functions.col("ts_us").as("tsUs"),
          org.apache.spark.sql.functions.col("value"))
        .withWatermark("ts", "0 seconds")
        .as[StreamingWindows.SessIn]
      StreamingWindows.gapSessions(src, 1800L * 1000000L)
        .writeStream.format("parquet")
        .option("path", outDir.toString)
        .option("checkpointLocation", ckpt)
        .start()
    }
    val chunks = events.grouped(math.max(events.length / 4, 1)).toSeq
    // first life: two chunks, then KILL
    writeChunk("c0.json", chunks(0)); writeChunk("c1.json", chunks(1))
    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop()
    // second life: rest of the data + a far-future sentinel, resume
    // from the checkpoint — state (open sessions, numbering) recovers,
    // the file-sink manifest dedups anything from the first life
    chunks.drop(2).zipWithIndex.foreach { case (c, i) => writeChunk(s"c${i + 2}.json", c) }
    val lastUs = events.last._3
    writeChunk("sentinel.json", Seq((-1L, 0L, lastUs + 86400L * 1000000L, 0.0)))
    val q2 = startQuery()
    q2.processAllAvailable(); q2.stop()
    val got = spark.read.parquet(outDir.toString).collect()
      .map(r => (r.getAs[Long]("userId"), r.getAs[Long]("sessionId"),
        r.getAs[Long]("nEvents"), r.getAs[Long]("startUs"), r.getAs[Long]("endUs"),
        r.getAs[Double]("sumValue"), r.getAs[Long]("durUs")))
      .filter(_._1 >= 0).toSet
    assert(got == expected,
      s"only-batch=${(expected -- got).take(3)} only-stream=${(got -- expected).take(3)}")
  }

  test("stream-stream asof join matches the batch ev_asof_join rows (differential)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val expected = graft.SparkEntry.queries("ev_asof_join")(spark, dir).collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
        r.getAs[Long]("gap_us"))).toSet
    val byType = graft.sources.Tables.events(spark, dir)
      .select("user_id", "event_id", "ts", "ts_us", "event_type").collect()
      .map(r => (r.getAs[String]("event_type"),
        StreamingWindows.SessIn(r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
          r.getAs[java.sql.Timestamp]("ts"), r.getAs[Long]("ts_us"), 0.0)))
    val views = byType.collect { case ("view", e) => e }.sortBy(e => (e.tsUs, e.eventId))
    val purchases = byType.collect { case ("purchase", e) => e }.sortBy(e => (e.tsUs, e.eventId))
    val vMem = MemoryStream[StreamingWindows.SessIn]
    val pMem = MemoryStream[StreamingWindows.SessIn]
    def side(m: MemoryStream[StreamingWindows.SessIn]) =
      m.toDS().toDF("user_id", "event_id", "ts", "ts_us", "value")
        .withWatermark("ts", "0 seconds")
    // lookback covers the whole replayed span (events span 30 days),
    // so "latest within lookback" == the batch query's unbounded
    // last-preceding-view; kept TIGHT because the chained agg only
    // finalizes once watermark - lookback passes each purchase — the
    // sentinels below must overshoot by more than the lookback
    val lookbackUs = 31L * 86400L * 1000000L
    val joined = StreamJoins.asofJoin(side(vMem), side(pMem), lookbackUs)
    val (name, q) = runToMemory(joined)
    // interleaved three-chunk replay on both sides, event-time order
    val vChunks = views.grouped(math.max(views.length / 3, 1)).toSeq
    val pChunks = purchases.grouped(math.max(purchases.length / 3, 1)).toSeq
    (0 until math.max(vChunks.length, pChunks.length)).foreach { i =>
      vChunks.lift(i).foreach(c => vMem.addData(c.toSeq: _*))
      pChunks.lift(i).foreach(c => pMem.addData(c.toSeq: _*))
      q.processAllAvailable()
    }
    // two sentinel rounds on BOTH sides, each overshooting by more
    // than the lookback: the join's OUTPUT watermark trails the input
    // watermark by the left-state retention (= lookback), so the
    // chained aggregation only finalizes once the sentinels push
    // watermark - lookback past the last purchase (sentinel users
    // -1/-2 never match, so they add no rows)
    val lastMs = (views.last.tsUs max purchases.last.tsUs) / 1000L
    Seq(32L, 64L).foreach { k =>
      val ms = lastMs + k * 86400000L
      vMem.addData(StreamingWindows.SessIn(-1L, 0L, new java.sql.Timestamp(ms), ms * 1000L, 0.0))
      pMem.addData(StreamingWindows.SessIn(-2L, 0L, new java.sql.Timestamp(ms), ms * 1000L, 0.0))
      q.processAllAvailable()
    }
    awaitRows(name, expected.size.toLong)
    val got = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
    q.stop()
  }

  test("left-outer stream-stream asof join keeps matchless purchases with null gap (differential)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, max, when}
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    // batch truth: ALL purchases; gap null when no preceding view
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val ev0 = graft.sources.Tables.events(spark, dir)
    val expected = ev0
      .withColumn("last_view_us",
        max(when(col("event_type") === "view", col("ts_us"))).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        (col("ts_us") - col("last_view_us")).as("gap_us"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    val byType = ev0.select("user_id", "event_id", "ts", "ts_us", "event_type").collect()
      .map(r => (r.getAs[String]("event_type"),
        StreamingWindows.SessIn(r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
          r.getAs[java.sql.Timestamp]("ts"), r.getAs[Long]("ts_us"), 0.0)))
    val views = byType.collect { case ("view", e) => e }.sortBy(e => (e.tsUs, e.eventId))
    val purchases = byType.collect { case ("purchase", e) => e }.sortBy(e => (e.tsUs, e.eventId))
    val vMem = MemoryStream[StreamingWindows.SessIn]
    val pMem = MemoryStream[StreamingWindows.SessIn]
    def side(m: MemoryStream[StreamingWindows.SessIn]) =
      m.toDS().toDF("user_id", "event_id", "ts", "ts_us", "value")
        .withWatermark("ts", "0 seconds")
    val lookbackUs = 31L * 86400L * 1000000L
    val joined = StreamJoins.asofJoin(side(vMem), side(pMem), lookbackUs, "left_outer")
    val (name, q) = runToMemory(joined)
    vMem.addData(views.toSeq: _*)
    pMem.addData(purchases.toSeq: _*)
    q.processAllAvailable()
    val lastMs = (views.last.tsUs max purchases.last.tsUs) / 1000L
    Seq(32L, 64L, 96L).foreach { k =>
      val ms = lastMs + k * 86400000L
      vMem.addData(StreamingWindows.SessIn(-1L, 0L, new java.sql.Timestamp(ms), ms * 1000L, 0.0))
      pMem.addData(StreamingWindows.SessIn(-2L, 0L, new java.sql.Timestamp(ms), ms * 1000L, 0.0))
      q.processAllAvailable()
    }
    awaitRows(name, expected.size.toLong)
    val got = spark.table(name).collect()
      .filter(_.getLong(1) >= 0) // drop the sentinel purchases (user -2)
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(got == expected,
      s"only-batch=${(expected -- got).take(5)} only-stream=${(got -- expected).take(5)}")
    q.stop()
  }

  test("streaming ingest dedup matches the batch dedup_exact keep-set (differential)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    // batch truth: keep the lowest doc_id per exact text hash
    val expected = graft.SparkEntry.queries("dedup_exact")(spark, dir)
      .collect().map(_.getAs[Long]("keep_id")).toSet
    val docs = graft.sources.Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
      .sortBy(_._1)
    // streaming arm: replay in doc_id order, dropDuplicates on the same
    // hash — first-arrival-wins equals min-doc_id under ordered replay.
    // State is one row per distinct hash (at scale: bound it with
    // dropDuplicatesWithinWatermark + an event-time column).
    val mem = MemoryStream[(Long, String)]
    val deduped = mem.toDS().toDF("doc_id", "text")
      .withColumn("h", org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.col("text")))
      .dropDuplicates("h")
    val (name, q) = runToMemory(deduped.select("doc_id"))
    docs.grouped(math.max(docs.length / 4, 1)).foreach { chunk =>
      mem.addData(chunk.toSeq: _*)
      q.processAllAvailable()
    }
    val got = spark.table(name).collect().map(_.getLong(0)).toSet
    assert(got == expected)
    q.stop()
  }

  test("generator source emits wrapped random events") {
    val gen = StreamCompiler.generatorSource(spark, seconds = 0.01)
    val (name, q) = runToMemory(gen)
    try {
      q.processAllAvailable()
      Thread.sleep(300)
      q.processAllAvailable()
      val rows = spark.table(name).collect()
      assert(rows.forall(_.getString(0) == "_"))
    } finally q.stop()
  }

  test("stream-static interval join matches the batch ev_interval_join counts (differential)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val expected = graft.SparkEntry.queries("ev_interval_join")(spark, dir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_id")) ->
        r.getAs[Long]("n_concurrent")).toMap
    assert(expected.valuesIterator.exists(_ > 0L), "fixture must contain overlaps")
    // static side: the session intervals (the persisted-index pattern)
    val sessions = graft.SparkEntry.queries("ev_sessionize")(spark, dir)
      .select("user_id", "session_id", "start_us", "end_us")
    val probes = graft.sources.Tables.events(spark, dir)
      .selectExpr("user_id AS o_user", "ts_us").as[(Long, Long)]
      .collect().sortBy(_._2)
    val mem = MemoryStream[(Long, Long)]
    val counts = StreamJoins.intervalJoinStream(
      sessions, mem.toDF().toDF("o_user", "ts_us"))
    queryId += 1
    val name = s"strout$queryId"
    val q = counts.writeStream.format("memory").queryName(name)
      .outputMode("update").start()
    try {
      probes.grouped(math.max(1, probes.length / 3 + 1)).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      val sink = spark.table(name).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_id"),
          r.getAs[Long]("n_concurrent"), r.getAs[Long]("version")))
      val maxVer = sink.groupBy(x => (x._1, x._2)).view.mapValues(_.map(_._4).max).toMap
      val got = sink.filter { case (u, s2, _, v) => v == maxVer((u, s2)) }
        .map { case (u, s2, c, _) => (u, s2) -> c }.toMap
      // sessions nothing streamed ever hit never emit = batch zeros
      val expectedNonZero = expected.filter(_._2 > 0L)
      assert(got == expectedNonZero,
        s"only-batch=${(expectedNonZero.toSet -- got.toSet).take(3)} only-stream=${(got.toSet -- expectedNonZero.toSet).take(3)}")
      assert(expected.keySet.diff(got.keySet).forall(k => expected(k) == 0L))
    } finally q.stop()
  }

  test("send-stdout tap yields NDJSON lines in streaming mode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tpl = Spec.parseYaml(
      """name: sp2
        |steps:
        |  tap:
        |    flatmap:
        |      send-stdout: null
        |""".stripMargin)
    val mem = MemoryStream[SEvent]
    val compiled = StreamCompiler.compile(spark, tpl, mem.toDS())
    val (name, q) = runToMemory(compiled.sinks("tap"))
    mem.addData(ev("a", "{\"k\":1}", 1))
    q.processAllAvailable()
    val line = spark.table(name).head().getString(0)
    assert(line.startsWith("{\"n\":\"a\",\"d\":{\"k\":1},\"t\":[{\"i\":1001.0"))
    q.stop()
  }
}
