package graft.streaming

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{EventFunctions, JsonSchemaFilter}
import graft.io.JqPipe
import graft.model.TracePoint
import graft.spec.Spec
import graft.spec.Spec._

/** Streaming face of the pipeline compiler: the same template
  * compiles to transformations over an unbounded `Dataset[SEvent]`.
  *
  * Stateless steps (rename, keep-when, routing) are Column predicates
  * and projections — identical plans to batch, codegen'd inside each
  * micro-batch. Windowed steps go through
  * [[StreamingWindows.hybridVectors]] (count-or-time state), then the
  * vector function is applied per closed vector. `send-*` taps carry
  * the same typed [[graft.pipeline.BatchCompiler.Delivery]] as batch;
  * [[StreamRunner]] attaches the live sink per micro-batch.
  *
  * Windows are keyed by event name (a keyed, scale-out upgrade of the
  * reference's single global buffer — the reference semantics are the
  * `key = const` special case, selected by `window-key: global`).
  */
object StreamCompiler {

  import graft.pipeline.BatchCompiler.Delivery

  /** A sink tap: NDJSON/body lines (plus `__vts` for AMQP vector
    * messages) and how the runner should deliver each micro-batch —
    * the same [[graft.pipeline.BatchCompiler.Delivery]] vocabulary as
    * batch, so both runners share sink semantics.
    */
  final case class StreamSinkSpec(lines: org.apache.spark.sql.DataFrame, delivery: Delivery)

  final case class CompiledStream(output: Dataset[SEvent],
                                  sinkSpecs: Map[String, StreamSinkSpec]) {
    /** Line view (first column) — what tests and ad-hoc taps read. */
    def sinks: Map[String, Dataset[String]] =
      sinkSpecs.view.mapValues(s =>
        s.lines.select("line").as[String](StreamingWindows.stringEnc)).toMap
  }

  import StreamingWindows.sEventEnc

  /** Rate-source implementation of the reference's `generator` input
    * (src/input/generator.ts:80-128): one `{n: "_", d: random}` event
    * per `seconds` interval.
    */
  def generatorSource(spark: SparkSession, seconds: Double, name: String = "_"): Dataset[SEvent] = {
    val rps = math.max(1, (1.0 / math.max(seconds, 1e-3)).round).toString
    spark.readStream.format("rate").option("rowsPerSecond", rps).load()
      .select(
        lit(name).as("n"),
        rand().cast("string").as("d"),
        lit(null).cast("array<struct<i:double,p:string,h:string>>").as("t"),
        (unix_millis(col("timestamp")) / 1e3).as("ts"),
        col("value").as("seq"))
      .as[SEvent]
  }

  /** True `tail` input (reference src/input/tail.ts:76-141): follow one
    * file's appended lines via [[graft.sources.FileTailSource]]'s
    * byte-offset micro-batches — NDJSON events, or raw lines wrapped
    * under `wrapName` (the reference's `wrap` directive). Arrival
    * fields: `ts` is the micro-batch processing time, `seq` the line's
    * byte offset in the tailed file — monotone in arrival order.
    */
  def tailSource(spark: SparkSession, path: String, startAt: String = "end",
                 wrapName: Option[String] = None,
                 maxBytesPerTrigger: Long = 0L): Dataset[SEvent] = {
    val traceType = org.apache.spark.sql.types.DataType
      .fromDDL("array<struct<i:double,p:string,h:string>>")
    val lines = graft.sources.IngestSources.tailFile(spark, path, startAt, maxBytesPerTrigger)
    val ev = wrapName match {
      case Some(w) =>
        // raw line wrapped as a JSON string payload (same envelope trick
        // as BatchCompiler.loadInput: to_json handles the escaping)
        val quoted = to_json(struct(col("value").as("v")))
        lines.select(lit(w).as("n"),
          quoted.substr(lit(6), length(quoted) - 6).as("d"),
          lit(null).cast(traceType).as("t"),
          (unix_millis(current_timestamp()) / 1e3).as("ts"),
          col("pos").as("seq"))
      case None =>
        val v = try_parse_json(col("value"))
        lines.select(
          try_variant_get(v, "$.n", "string").as("n"),
          to_json(try_variant_get(v, "$.d", "variant")).as("d"),
          from_json(to_json(try_variant_get(v, "$.t", "variant")), traceType).as("t"),
          (unix_millis(current_timestamp()) / 1e3).as("ts"),
          col("pos").as("seq"))
          .filter(col("n").isNotNull)
    }
    ev.as[SEvent]
  }

  /** LIVE `redis` input (reference src/input/redis.ts:130-237): a
    * continuously-consumed list queue via
    * [[graft.sources.RedisQueueSource]]'s `LPOP count`-per-micro-batch
    * stream — NDJSON events parsed with the same variant-path idiom as
    * every other ingest face. Arrival fields: `ts` is the micro-batch
    * processing time, `seq` the element's pop index — monotone in
    * arrival order, exactly like the tail source's byte offset.
    */
  def redisQueueSource(spark: SparkSession, host: String, port: Int, key: String,
                       maxPerTrigger: Int = 1024): Dataset[SEvent] =
    parseBrokerLines(spark.readStream
      .format(classOf[graft.sources.RedisQueueSource].getName)
      .option("host", host).option("port", port.toString)
      .option("key", key).option("maxPerTrigger", maxPerTrigger.toString)
      .load())

  /** LIVE `amqp` input (reference src/input/amqp.ts:181-343) via
    * [[graft.sources.AmqpQueueSource]]: un-acked Basic.Consume with a
    * cumulative ack per checkpoint commit — at-least-once end to end.
    */
  def amqpQueueSource(spark: SparkSession, host: String, port: Int, queue: String,
                      vhost: String = "/", user: String = "guest",
                      password: String = "guest"): Dataset[SEvent] =
    parseBrokerLines(spark.readStream
      .format(classOf[graft.sources.AmqpQueueSource].getName)
      .option("host", host).option("port", port.toString).option("queue", queue)
      .option("vhost", vhost).option("user", user).option("password", password)
      .load())

  /** LIVE `mqtt` input (reference src/input/mqtt.ts:109-213) via
    * [[graft.sources.MqttStreamSource]]: subscribed topic filter,
    * payloads buffered as they arrive.
    */
  def mqttStreamSource(spark: SparkSession, host: String, port: Int,
                       topic: String = "cdp/#", qos: Int = 0): Dataset[SEvent] =
    parseBrokerLines(spark.readStream
      .format(classOf[graft.sources.MqttStreamSource].getName)
      .option("host", host).option("port", port.toString)
      .option("topic", topic).option("qos", qos.toString)
      .load())

  /** LIVE `http` input (reference src/input/http.ts:90-165) via
    * [[graft.sources.HttpPushSource]]: an embedded POST endpoint whose
    * accepted NDJSON bodies stream straight into micro-batches, 503
    * under backpressure. `port` 0 binds ephemerally — read the real
    * port from [[graft.sources.HttpPushSource.boundPorts]] keyed by
    * the query's checkpoint location.
    */
  def httpPushSource(spark: SparkSession, port: Int, endpoint: String = "/events",
                     maxBuffered: Int = 65536): Dataset[SEvent] =
    parseBrokerLines(spark.readStream
      .format(classOf[graft.sources.HttpPushSource].getName)
      .option("port", port.toString).option("endpoint", endpoint)
      .option("maxBuffered", maxBuffered.toString)
      .load())

  /** LIVE `poll` input (reference src/input/poll.ts:106-189) via
    * [[graft.sources.PollStreamSource]]: one ETag-deduplicated GET per
    * interval, the dedup state checkpointed inside the stream offset.
    */
  def pollSource(spark: SparkSession, target: String,
                 intervalMs: Long = 1000L): Dataset[SEvent] =
    parseBrokerLines(spark.readStream
      .format(classOf[graft.sources.PollStreamSource].getName)
      .option("target", target).option("intervalMs", intervalMs.toString)
      .load())

  /** The shared NDJSON envelope parse for every broker line stream —
    * the same variant-path idiom as the batch ingest faces. Arrival
    * fields: `ts` is the micro-batch processing time, `seq` the
    * broker arrival index — monotone, exactly like the tail source's
    * byte offset.
    */
  private def parseBrokerLines(lines: org.apache.spark.sql.DataFrame): Dataset[SEvent] = {
    val traceType = org.apache.spark.sql.types.DataType
      .fromDDL("array<struct<i:double,p:string,h:string>>")
    val v = try_parse_json(col("value"))
    lines.select(
        try_variant_get(v, "$.n", "string").as("n"),
        to_json(try_variant_get(v, "$.d", "variant")).as("d"),
        from_json(to_json(try_variant_get(v, "$.t", "variant")), traceType).as("t"),
        (unix_millis(current_timestamp()) / 1e3).as("ts"),
        col("seq").as("seq"))
      .filter(col("n").isNotNull)
      .as[SEvent](sEventEnc)
  }

  def compile(spark: SparkSession, tpl: PipelineTemplate,
              input: Dataset[SEvent]): CompiledStream = {
    import spark.implicits._
    val sinks = scala.collection.mutable.LinkedHashMap[String, StreamSinkSpec]()
    val outputs = scala.collection.mutable.LinkedHashMap[String, Dataset[SEvent]]()

    Spec.topoOrder(tpl).foreach { step =>
      val upstream = (if (step.after.isEmpty) Seq("$input") else step.after).map {
        case "$input" => input
        case other    => outputs(other)
      }.reduce(_ union _)

      val (matched, passed) = step.pattern match {
        case None => (upstream, None)
        case Some(p) =>
          val c = EventFunctions.matchesPattern(col("n"), p)
          (upstream.filter(c),
            if (step.matchMode == MatchMode.Pass) Some(upstream.filter(!c)) else None)
      }

      val processed = applyFn(spark, tpl, step, matched, sinks)
      outputs(step.name) = passed.fold(processed)(processed.union(_))
    }

    val referenced = tpl.steps.flatMap(_.after).toSet
    val terminals = tpl.steps.map(_.name).filterNot(referenced.contains)
    val out = terminals.map(outputs(_)).reduceOption(_ union _)
      .getOrElse(input.limit(0))
    CompiledStream(out, sinks.toMap)
  }

  private def applyFn(spark: SparkSession, tpl: PipelineTemplate, step: StepSpec,
                      ds: Dataset[SEvent],
                      sinks: scala.collection.mutable.Map[String, StreamSinkSpec]): Dataset[SEvent] = {
    import spark.implicits._
    val windowed = step.window.events > 1 || step.window.seconds > 0
    val sharedWindows = tpl.windowKey == "global"
    val keyFn: SEvent => String = if (sharedWindows) (_ => "") else (_.n)

    // reduce = disjoint count-or-time groups; flatmap = per-event
    // sliding buffers (reference src/step.ts:84-131)
    def windowVectors(d: Dataset[SEvent]): Dataset[SVector] =
      if (step.flatmap)
        StreamingWindows.flatmapVectors(d, keyFn, step.window.events, step.window.seconds)
      else
        StreamingWindows.hybridVectors(d, keyFn, step.window.events, step.window.seconds)

    def vectors(f: Seq[SEvent] => Seq[SEvent]): Dataset[SEvent] =
      windowVectors(ds).flatMap(v => f(v.events))

    step.fn match {
      case Rename(replace, prepend, append) =>
        // Column projection, not a typed lambda — no per-event
        // deserialization for a string concat (same plan as the batch
        // path, StepOps.renameReplace/renameAffix).
        val newN = replace match {
          case Some(r) => lit(r)
          case None    =>
            concat(lit(prepend.getOrElse("")), col("n"), lit(append.getOrElse("")))
        }
        ds.withColumn("n", newN).as[SEvent]

      case KeepWhen(schema) =>
        // Column predicate; schema compiled once on the driver
        ds.filter(JsonSchemaFilter.compile(schema, col("d")))

      case Deduplicate(byName, byData, byTrace) =>
        def keyOf(e: SEvent) = (
          if (byName) e.n else "",
          if (byData) Option(e.d).getOrElse("\u0000") else "",
          if (byTrace) e.t.toString else "")
        if (!windowed) ds // singleton vectors: dedup is identity
        else vectors { evs =>
          val seen = scala.collection.mutable.HashSet[(String, String, String)]()
          evs.filter(e => seen.add(keyOf(e)))
        }

      case Keep(first, last) =>
        if (!windowed) ds
        else vectors { evs =>
          (first, last) match {
            case (Some(k), _) => evs.take(k)
            case (_, Some(k)) => evs.takeRight(k)
            case _            => evs
          }
        }

      case SendStdout(jq) =>
        sinks(step.name) = StreamSinkSpec(
          formatLines(spark, tpl, ds, jq,
            windowVectors(ds).map(v => vectorJson(v.events))).toDF("line"),
          graft.pipeline.BatchCompiler.ToStdout)
        ds

      case SendFile(path, jq, distributed) =>
        sinks(s"${step.name}:$path") = StreamSinkSpec(
          formatLines(spark, tpl, ds, jq,
            windowVectors(ds).map(v => vectorJson(v.events))).toDF("line"),
          graft.pipeline.BatchCompiler.ToFile(path, distributed))
        ds

      case SendHttp(target, method, headers, jq) =>
        // one NDJSON body per vector; the runner posts each micro-batch
        val formattedBodies = jq match {
          case None =>
            windowVectors(ds).map(v => v.events.map(eventJsonStr).mkString("\n"))
          case Some(expr) =>
            // jq receives the vector as ONE JSON array line (the
            // reference's processor input), one request per result
            val prelude = tpl.jqPrelude
            windowVectors(ds).map(v => vectorJson(v.events))
              .mapPartitions(it => graft.io.JqPool.pipe(it, expr, prelude))
        }
        sinks(step.name) = StreamSinkSpec(formattedBodies.toDF("line"),
          graft.pipeline.BatchCompiler.ToHttp(target, method, headers))
        ds

      case SendRedis(host, port, target, mode, jq) =>
        sinks(step.name) = StreamSinkSpec(
          formatLines(spark, tpl, ds, jq,
            windowVectors(ds).map(v => vectorJson(v.events))).toDF("line"),
          graft.pipeline.BatchCompiler.ToRedis(host, port, target, mode))
        ds

      case SendAmqp(host, port, exchange, exType, durable, autoDel,
                    routingKey, expiration, priority, persistent, jq) =>
        // without jq: one NDJSON message per vector, stamped with the
        // vector's max event time; with jq: one message per result
        // (same semantics as the batch compiler)
        val conf = graft.sinks.AmqpBroker.Conf(host, port, exchange, exType,
          durable, autoDel, routingKey, expiration, priority, persistent,
          ndjson = jq.isEmpty)
        val amqpLines = jq match {
          case None =>
            windowVectors(ds)
              .map(v => (v.events.map(eventJsonStr).mkString("\n"),
                math.floor(v.events.map(_.ts).max)))(
                org.apache.spark.sql.Encoders.tuple(
                  org.apache.spark.sql.Encoders.STRING,
                  org.apache.spark.sql.Encoders.scalaDouble))
              .toDF("line", "__vts")
          case Some(expr) =>
            formatLines(spark, tpl, ds, Some(expr),
              windowVectors(ds).map(v => vectorJson(v.events))).toDF("line")
        }
        sinks(step.name) = StreamSinkSpec(amqpLines,
          graft.pipeline.BatchCompiler.ToAmqp(conf))
        ds

      case SendMqtt(host, port, topic, qos, jq) =>
        val conf = graft.sinks.MqttBroker.Conf(host, port,
          topic.getOrElse(s"cdp/${tpl.name}/${step.name}"), qos,
          ndjson = jq.isEmpty)
        val mqttLines = jq match {
          case None =>
            windowVectors(ds).map(v => v.events.map(eventJsonStr).mkString("\n")).toDF("line")
          case Some(expr) =>
            formatLines(spark, tpl, ds, Some(expr),
              windowVectors(ds).map(v => vectorJson(v.events))).toDF("line")
        }
        sinks(step.name) = StreamSinkSpec(mqttLines,
          graft.pipeline.BatchCompiler.ToMqtt(conf))
        ds

      case SendReceiveHttp(target, headers, wrapName) =>
        val name = tpl.name
        val sig = tpl.signature
        windowVectors(ds)
          .map(v => v.events.map(eventJsonStr).mkString("\n"))
          .mapPartitions { it =>
            val now = System.currentTimeMillis() / 1000.0
            it.flatMap { body =>
              try {
                val resp = graft.io.HttpOps.send(target, "POST", headers, body)
                if (resp.statusCode() >= 200 && resp.statusCode() < 300)
                  resp.body().linesIterator.filter(_.nonEmpty)
                else Iterator.empty
              } catch { case _: Exception => Iterator.empty }
            }.zipWithIndex.flatMap { case (line, i) =>
              parseOutput(line, wrapName, name, sig, now, i.toLong)
            }
          }

      case SendReceiveJsonnet(expr, wrapName) =>
        import graft.functions.{JqCompiler, JsonnetCompiler}
        val name = tpl.name
        val sig = tpl.signature

        def subprocessJsonnet(): Dataset[SEvent] = {
          val bin = sys.env.getOrElse("GRAFT_JSONNET_BIN",
            throw new IllegalArgumentException(s"step '${step.name}': this streaming " +
              "send-receive-jsonnet expression is outside the compiled subset and needs GRAFT_JSONNET_BIN"))
          // prelude + code, like the reference (io/jsonnet.ts:14-15)
          val program = tpl.jsonnetPrelude.fold(expr)(p => p + "\n" + expr)
          windowVectors(ds)
            .map(v => vectorJson(v.events))
            .mapPartitions { it =>
              val now = System.currentTimeMillis() / 1000.0
              graft.io.JqPipe.pipeCommand(it, Seq(bin, program)).zipWithIndex.flatMap {
                case (line, i) => parseOutput(line, wrapName, name, sig, now, i.toLong)
              }
            }
        }

        // compiled tier (mirror of the batch path, BatchCompiler
        // SendReceiveJsonnet): identity form = per-event projection;
        // object form = per-vector Columns over the closed-vector rows
        // the window operator already emits — no second stateful agg,
        // no helper binary
        val jsonnetProgram = tpl.jsonnetPrelude.fold(expr)(p => p + "\n" + expr)
        val perEvent =
          if (wrapName.isEmpty) JsonnetCompiler.tryCompile(jsonnetProgram) else None
        perEvent match {
          case Some(JqCompiler.CompiledPerEvent(pe)) =>
            pe.filter.fold(ds.toDF)(ds.toDF.filter).select(
              pe.outName.cast("string").as("n"),
              pe.outPayloadJson.as("d"),
              array(struct(col("ts").as("i"), lit(name).as("p"), lit(sig).as("h"))).as("t"),
              col("ts"), col("seq")).as[SEvent]
          case _ =>
            val vecCompiled =
              if (wrapName.isEmpty) JsonnetCompiler.tryCompileVector(jsonnetProgram) else None
            vecCompiled match {
              case Some(vc) =>
                // vector max event time stamps the output (same
                // convention as the batch per-vector tier); seq
                // tiebreak hashes the vector identity in keyed mode
                val vts = array_max(transform(col("events"), e => e.getField("ts")))
                val seqCol =
                  if (sharedWindows) col("vecId")
                  else xxhash64(col("key"), col("vecId"))
                windowVectors(ds).toDF().select(
                  vc.outName.cast("string").as("n"),
                  vc.payloadJson.as("d"),
                  array(struct(vts.as("i"), lit(name).as("p"), lit(sig).as("h"))).as("t"),
                  vts.as("ts"), seqCol.as("seq")).as[SEvent]
              case None => subprocessJsonnet()
            }
        }

      case ExposeHttpFn(endpoint, port, responses) =>
        // driver-resident ring server, fed one NDJSON body per closed
        // vector each micro-batch (the reference's exposition example,
        // examples/exposition/pipeline.yaml)
        val exposeBodies = windowVectors(ds)
          .map(v => v.events.map(eventJsonStr).mkString("\n")).toDF("line")
        sinks(step.name) = StreamSinkSpec(exposeBodies,
          graft.pipeline.BatchCompiler.ToExpose(endpoint, port, responses))
        ds

      case SendReceiveJq(expr, wrapName) =>
        val prelude = tpl.jqPrelude
        val name = tpl.name
        val sig = tpl.signature
        val wrapped = wrapName

        // fresh single-point trace at event time (the deterministic
        // stamp the batch compiled tier uses too)
        def stamp: org.apache.spark.sql.Column =
          array(struct(col("ts").as("i"), lit(name).as("p"), lit(sig).as("h")))

        def subprocess(): Dataset[SEvent] = {
          val lines = windowVectors(ds).map(v => vectorJson(v.events))
          lines.mapPartitions { it =>
            val out = graft.io.JqPool.pipe(it, expr, prelude)
            val now = System.currentTimeMillis() / 1000.0
            out.zipWithIndex.flatMap { case (line, i) =>
              parseOutput(line, wrapped, name, sig, now, i.toLong)
            }
          }
        }

        // compiled per-event tiers run as Column projections inside
        // the micro-batch — no subprocess, no per-trigger process IO;
        // per-vector aggregation forms stay on the subprocess tier
        import graft.functions.JqCompiler
        if (tpl.jqTier != "compiled") subprocess()
        else wrapName match {
          case None =>
            JqCompiler.tryCompile(expr) match {
              case Some(JqCompiler.CompiledPerEvent(pe)) =>
                pe.filter.fold(ds.toDF)(ds.toDF.filter).select(
                  pe.outName.cast("string").as("n"),
                  pe.outPayloadJson.as("d"),
                  (if (pe.keepTrace) col("t") else stamp).as("t"),
                  col("ts"), col("seq")).as[SEvent]
              case _ => subprocess()
            }
          case Some(w) =>
            JqCompiler.tryCompileWrapped(expr) match {
              case Some(pv) =>
                pv.filter.fold(ds.toDF)(ds.toDF.filter).select(
                  lit(w).as("n"), pv.valueJson.as("d"),
                  stamp.as("t"), col("ts"), col("seq")).as[SEvent]
              case None => subprocess()
            }
        }
    }
  }

  /** Sink line formatting: NDJSON events without jq; with jq the step
    * VECTOR goes to the processor as ONE JSON array line
    * (json-processor.ts:166 — stringify(Event[])), so jq's `.` is the
    * event array — `map(.d)` projects payloads, `.[]` iterates events;
    * un-windowed sends feed singleton arrays. Same semantics as the
    * batch compiler's vectorArrayLines. `vecLines` is by-name: it is
    * only built (and only plans the windowing) when jq is set.
    */
  private def formatLines(spark: SparkSession, tpl: PipelineTemplate,
                          ds: Dataset[SEvent], jq: Option[String],
                          vecLines: => Dataset[String]): Dataset[String] = {
    import spark.implicits._
    jq match {
      case None       => ds.map(e => eventJsonStr(e))
      case Some(expr) =>
        val prelude = tpl.jqPrelude
        vecLines.mapPartitions(it => graft.io.JqPool.pipe(it, expr, prelude))
    }
  }

  // ---- executor-side JSON plumbing (jackson, payloads spliced raw) ----

  @transient private lazy val mapper = new ObjectMapper()

  private[streaming] def eventJsonStr(e: SEvent): String = {
    val sb = new java.lang.StringBuilder("{\"n\":")
    sb.append(mapper.writeValueAsString(e.n))
    sb.append(",\"d\":").append(if (e.d == null) "null" else e.d)
    sb.append(",\"t\":")
    if (e.t == null) sb.append("null")
    else {
      sb.append('[')
      e.t.zipWithIndex.foreach { case (tp, i) =>
        if (i > 0) sb.append(',')
        sb.append("{\"i\":").append(tp.i)
          .append(",\"p\":").append(mapper.writeValueAsString(tp.p))
          .append(",\"h\":").append(mapper.writeValueAsString(tp.h)).append('}')
      }
      sb.append(']')
    }
    sb.append('}').toString
  }

  private[streaming] def vectorJson(events: Seq[SEvent]): String =
    events.map(eventJsonStr).mkString("[", ",", "]")

  /** Old-event parser semantics on jq output (src/event.ts:244-263). */
  private[streaming] def parseOutput(line: String, wrapName: Option[String],
                                     pipeline: String, sig: String,
                                     now: Double, seq: Long): Option[SEvent] = {
    wrapName match {
      case Some(w) =>
        Some(SEvent(w, line, Seq(TracePoint(now, pipeline, sig)), now, seq))
      case None =>
        try {
          val node = mapper.readTree(line)
          val n = Option(node.get("n")).filter(_.isTextual).map(_.asText)
          n.filter(graft.model.EventName.isValid).map { name =>
            val d = Option(node.get("d")).map(v => mapper.writeValueAsString(v)).orNull
            val t0 = Option(node.get("t")).filter(_.isArray).map { arr =>
              scala.jdk.CollectionConverters.IteratorHasAsScala(arr.elements()).asScala.map { tp =>
                TracePoint(tp.get("i").asDouble, tp.get("p").asText, tp.get("h").asText)
              }.toSeq
            }.filter(_.nonEmpty)
            val t = t0.getOrElse(Seq(TracePoint(now, pipeline, sig)))
            SEvent(name, d, t, t.last.i, seq)
          }
        } catch { case _: Exception => None }
    }
  }
}
