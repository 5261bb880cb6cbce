package graft.spec

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory

import graft.model.Pattern

/** Pipeline template model + YAML/JSON parsing + validation — the
  * reference's spec language (README.md:506-810, src/api.ts:246-306,
  * src/pipeline.ts:55-99), re-expressed as plain Scala data the
  * compilers consume.
  *
  * Numbers may arrive as strings (the reference substitutes env
  * placeholders before parsing; see [[Envsubst]]).
  */
object Spec {

  final case class WindowSpec(events: Int, seconds: Double)
  val SingletonWindow: WindowSpec = WindowSpec(1, -1)

  sealed trait MatchMode
  object MatchMode {
    case object Drop extends MatchMode
    case object Pass extends MatchMode
  }

  sealed trait StepFn
  final case class Rename(replace: Option[String], prepend: Option[String],
                          append: Option[String]) extends StepFn
  final case class Deduplicate(considerName: Boolean, considerData: Boolean,
                               considerTrace: Boolean) extends StepFn
  final case class Keep(first: Option[Int], last: Option[Int]) extends StepFn
  final case class KeepWhen(schema: JsonNode) extends StepFn
  final case class SendStdout(jqExpr: Option[String]) extends StepFn
  /** send-file. `distributed` is an engine extension: executors write
    * a directory of part files via `df.write` (the 100-TB shape)
    * instead of the reference-parity single-file driver append. */
  final case class SendFile(path: String, jqExpr: Option[String],
                            distributed: Boolean = false) extends StepFn
  final case class SendReceiveJq(jqExpr: String, wrapName: Option[String]) extends StepFn
  final case class SendReceiveJsonnet(expr: String, wrapName: Option[String]) extends StepFn
  final case class SendHttp(target: String, method: String,
                            headers: Map[String, String], jqExpr: Option[String]) extends StepFn
  final case class SendReceiveHttp(target: String, headers: Map[String, String],
                                   wrapName: Option[String]) extends StepFn
  final case class ExposeHttpFn(endpoint: String, port: Int, responses: Int) extends StepFn
  /** send-redis (reference src/step-functions/send-redis.ts:100-191):
    * RPUSH to a list queue (`key:`) or PUBLISH to a channel
    * (`channel:`) over the pure-JVM RESP client. */
  final case class SendRedis(host: String, port: Int, target: String,
                             mode: String, jqExpr: Option[String]) extends StepFn
  /** send-mqtt (reference src/step-functions/send-mqtt.ts:86-185):
    * publish to a topic (default `cdp/<pipeline>/<step>`) over the
    * pure-JVM MQTT 3.1.1 client; qos 0 or 1. */
  final case class SendMqtt(host: String, port: Int, topic: Option[String],
                            qos: Int, jqExpr: Option[String]) extends StepFn
  /** send-amqp (reference src/step-functions/send-amqp.ts:127-264):
    * publish to an asserted exchange over the pure-JVM AMQP 0-9-1
    * client; routing key defaults by exchange type. */
  final case class SendAmqp(host: String, port: Int,
                            exchange: String, exchangeType: String,
                            durable: Boolean, autoDelete: Boolean,
                            routingKey: Option[String],
                            expiration: Option[Long], priority: Option[Int],
                            persistent: Option[Boolean],
                            jqExpr: Option[String]) extends StepFn

  final case class StepSpec(
      name: String,
      after: Seq[String],
      pattern: Option[Pattern],
      matchMode: MatchMode,
      window: WindowSpec,
      flatmap: Boolean, // true = flatmap (sliding per-event), false = reduce
      fn: StepFn)

  final case class PipelineTemplate(
      name: String,
      input: InputSpec,
      steps: Seq[StepSpec], // declaration order preserved
      jqPrelude: Option[String],
      /** Shared jsonnet definitions prepended to every jsonnet-expr
        * (reference README.md "jsonnet-prelude", io/jsonnet.ts:14-15). */
      jsonnetPrelude: Option[String] = None,
      /** Engine extension: "compiled" lowers in-subset jq expressions
        * to native columns (numeric semantics, no subprocess); default
        * "subprocess" is exact jq. */
      jqTier: String = "subprocess",
      /** Engine extension: the default "name" partitions windowed batch
        * replay by event name (the keyed, scalable path — what the
        * streaming compiler already does, and the only shape that
        * doesn't funnel a 100-TB replay through one task); "global" is
        * the explicit opt-in reproducing the reference's single global
        * arrival-order buffer bit-for-bit. */
      windowKey: String = "name",
      /** Engine extension (SURVEY §1.3): "variant" carries the payload
        * as a pre-parsed Spark VariantType column (`__dv`) between
        * steps — compiled-jq field access reads the binary variant
        * encoding instead of re-parsing the `d` JSON text per access.
        * Default "string" is the reference-shaped JSON-text payload.
        * (keep-when's schema filter still probes the text; its parser
        * is jackson-level, not path-level.) */
      payloadTier: String = "string") {
    def signature: String =
      graft.model.Signatures.ofJson(name + steps.map(_.toString).mkString("|"))
  }

  sealed trait InputSpec
  /** Batch replay of NDJSON event files (the batch face of the
    * reference's stdin/tail inputs). `wrapName` wraps raw lines.
    */
  final case class FileInput(path: String, wrapName: Option[String]) extends InputSpec
  /** Streaming rate source (the reference's `generator`). */
  final case class GeneratorInput(seconds: Double, name: String) extends InputSpec
  /** Caller supplies the event DataFrame (library embedding). */
  case object ProvidedInput extends InputSpec

  private val yaml = new ObjectMapper(new YAMLFactory())
  private val json = new ObjectMapper()

  def parseYaml(text: String): PipelineTemplate = fromNode(yaml.readTree(text))

  def fromNode(root: JsonNode): PipelineTemplate = {
    require(root.isObject, "pipeline spec must be a mapping")
    val name = req(root, "name").asText
    val input = parseInput(root.get("input"))
    val stepsNode = Option(root.get("steps")).getOrElse(json.createObjectNode())
    val stepNames = iter(stepsNode.fieldNames()).toSeq
    val steps = stepNames.map(n => parseStep(n, stepsNode.get(n)))
    val jqTier = Option(root.get("jq-tier")).map(_.asText).getOrElse("subprocess")
    require(Set("subprocess", "compiled").contains(jqTier),
      s"jq-tier must be subprocess or compiled, got $jqTier")
    val windowKey = Option(root.get("window-key")).map(_.asText).getOrElse("name")
    require(Set("global", "name").contains(windowKey),
      s"window-key must be global or name, got $windowKey")
    val payloadTier = Option(root.get("payload-tier")).map(_.asText).getOrElse("string")
    require(Set("string", "variant").contains(payloadTier),
      s"payload-tier must be string or variant, got $payloadTier")
    val tpl = PipelineTemplate(name, input, steps,
      Option(root.get("jq-prelude")).map(_.asText),
      Option(root.get("jsonnet-prelude")).map(_.asText), jqTier, windowKey,
      payloadTier)
    validate(tpl)
    tpl
  }

  private def parseInput(n: JsonNode): InputSpec = {
    if (n == null) return ProvidedInput
    val forms = iter(n.fieldNames()).toSeq
    require(forms.size == 1, s"input must declare exactly one form, got $forms")
    forms.head match {
      case "file" =>
        val f = n.get("file")
        FileInput(req(f, "path").asText, wrapOf(f))
      case "stdin" | "tail" =>
        // batch replay: both are line/NDJSON readers over a path
        val f = n.get(forms.head)
        if (f == null || f.isNull) FileInput("-", None)
        else FileInput(Option(f.get("path")).map(_.asText).getOrElse("-"), wrapOf(f))
      case "generator" =>
        val g = n.get("generator")
        val secs = if (g == null || g.isNull) 1.0
          else if (g.isObject) numOf(Option(g.get("seconds")), 1.0)
          else g.asDouble(1.0)
        GeneratorInput(secs, "_")
      case other =>
        throw new IllegalArgumentException(
          s"input form '$other' requires a live broker; not available in batch replay")
    }
  }

  private def wrapOf(n: JsonNode): Option[String] = Option(n).flatMap { f =>
    Option(f.get("wrap")).map { w =>
      if (w.isTextual) w.asText else req(w, "name").asText
    }
  }

  private def parseStep(name: String, n: JsonNode): StepSpec = {
    val after = Option(n.get("after")).map(a => iter(a.elements()).map(_.asText).toSeq)
      .getOrElse(Seq.empty)
    val drop = Option(n.get("match/drop"))
    val pass = Option(n.get("match/pass"))
    require(drop.isEmpty || pass.isEmpty,
      s"step '$name': at most one of match/drop, match/pass")
    val pattern = drop.orElse(pass).map(parsePattern)
    val mode = if (pass.isDefined) MatchMode.Pass else MatchMode.Drop
    val window = Option(n.get("window")).map { w =>
      WindowSpec(numOf(Option(w.get("events")), 1.0).toInt,
        numOf(Option(w.get("seconds")), -1.0))
    }.getOrElse(SingletonWindow)
    val fm = Option(n.get("flatmap")); val rd = Option(n.get("reduce"))
    require(fm.isDefined != rd.isDefined,
      s"step '$name': exactly one of flatmap or reduce is required")
    val fnNode = fm.orElse(rd).get
    val fnKeys = iter(fnNode.fieldNames()).toSeq
    require(fnKeys.size == 1, s"step '$name': exactly one step function, got $fnKeys")
    StepSpec(name, after, pattern, mode, window, fm.isDefined,
      parseFn(name, fnKeys.head, fnNode.get(fnKeys.head)))
  }

  private def parsePattern(n: JsonNode): Pattern = {
    val p =
      if (n.isTextual) Pattern.Str(n.asText)
      else json.convertValue(n, classOf[java.util.Map[String, Any]]) match {
        case m => Pattern.fromAny(m)
      }
    require(p.validate, s"invalid pattern: $n")
    p
  }

  private def parseFn(step: String, key: String, n: JsonNode): StepFn = key match {
    case "rename" =>
      val r = Rename(opt(n, "replace"), opt(n, "prepend"), opt(n, "append"))
      require(r.replace.isEmpty != (r.prepend.isEmpty && r.append.isEmpty),
        s"step '$step': rename needs replace XOR affixes")
      r.replace.foreach(v => require(graft.model.EventName.isValid(v),
        s"step '$step': rename.replace must be a valid event name"))
      // affix grammar (reference src/step-functions/rename.ts:60-78):
      // an append may start with '.', a prepend may end with '.'; the
      // remainder must be a valid event name
      r.append.foreach(a => require(
        (a.startsWith(".") && graft.model.EventName.isValid(a.drop(1))) ||
          graft.model.EventName.isValid(a),
        s"step '$step': rename.append must be a proper name suffix"))
      r.prepend.foreach(p => require(
        (p.endsWith(".") && graft.model.EventName.isValid(p.dropRight(1))) ||
          graft.model.EventName.isValid(p),
        s"step '$step': rename.prepend must be a proper name prefix"))
      r
    case "deduplicate" =>
      if (n == null || n.isNull) Deduplicate(true, true, false)
      else Deduplicate(
        Option(n.get("consider-name")).forall(_.asBoolean),
        Option(n.get("consider-data")).forall(_.asBoolean),
        Option(n.get("consider-trace")).exists(_.asBoolean))
    case "keep" =>
      if (n.isNumber || n.isTextual) Keep(Some(n.asInt), None)
      else {
        val k = Keep(Option(n.get("first")).map(_.asInt), Option(n.get("last")).map(_.asInt))
        require(k.first.isDefined != k.last.isDefined,
          s"step '$step': keep needs first XOR last")
        k
      }
    case "keep-when" => KeepWhen(n)
    case "send-stdout" =>
      SendStdout(if (n == null || n.isNull) None else opt(n, "jq-expr"))
    case "send-file" =>
      if (n.isTextual) SendFile(n.asText, None)
      else {
        val mode = Option(n.get("mode")).map(_.asText).getOrElse("append")
        require(Set("append", "distributed").contains(mode),
          s"step '$step': send-file.mode must be append or distributed")
        SendFile(req(n, "path").asText, opt(n, "jq-expr"), mode == "distributed")
      }
    case "send-receive-jq" =>
      if (n.isTextual) SendReceiveJq(n.asText, None)
      else SendReceiveJq(req(n, "jq-expr").asText,
        Option(n.get("wrap")).map(w => if (w.isTextual) w.asText else req(w, "name").asText))
    case "send-receive-jsonnet" =>
      // the compiled-subset-or-binary gate lives in validate(), where
      // the template's jsonnet-prelude is in scope (prelude `local`
      // definitions compile too)
      if (n.isTextual) SendReceiveJsonnet(n.asText, None)
      else SendReceiveJsonnet(req(n, "jsonnet-expr").asText,
        Option(n.get("wrap")).map(w => if (w.isTextual) w.asText else req(w, "name").asText))
    case "send-http" =>
      if (n.isTextual) SendHttp(n.asText, "POST", Map.empty, None)
      else {
        val method = Option(n.get("method")).map(_.asText.toUpperCase).getOrElse("POST")
        require(Set("POST", "PUT", "PATCH").contains(method),
          s"step '$step': send-http method must be POST/PUT/PATCH")
        SendHttp(req(n, "target").asText, method, headersOf(n), opt(n, "jq-expr"))
      }
    case "send-receive-http" =>
      if (n.isTextual) SendReceiveHttp(n.asText, Map.empty, None)
      else SendReceiveHttp(req(n, "target").asText, headersOf(n),
        Option(n.get("wrap")).map(w => if (w.isTextual) w.asText else req(w, "name").asText))
    case "expose-http" =>
      ExposeHttpFn(req(n, "endpoint").asText, req(n, "port").asInt,
        Option(n.get("responses")).map(_.asInt).getOrElse(1))
    case "send-mqtt" =>
      val qos = Option(n.get("qos")).map(_.asText.toInt).getOrElse(0)
      require(qos >= 0 && qos <= 2,
        s"step '$step': send-mqtt.qos must be 0, 1 or 2")
      SendMqtt(
        Option(n.get("host")).map(_.asText).getOrElse("localhost"),
        Option(n.get("port")).map(_.asInt).getOrElse(1883),
        opt(n, "topic"), qos, opt(n, "jq-expr"))
    case "send-amqp" =>
      val ex = Option(n.get("exchange"))
      val exType = ex.flatMap(e => Option(e.get("type")).map(_.asText)).getOrElse("topic")
      require(Set("direct", "fanout", "topic").contains(exType),
        s"step '$step': send-amqp exchange.type must be direct/fanout/topic")
      val expiration = Option(n.get("expiration")).map(_.asText.toLong)
      expiration.foreach(e => require(e >= 0 && e <= 4294967295L,
        s"step '$step': send-amqp.expiration must be >= 0 and < 2^32"))
      val priority = Option(n.get("priority")).map(_.asText.toInt)
      priority.foreach(p => require(p >= 0 && p <= 255,
        s"step '$step': send-amqp.priority must be >= 0 and < 256"))
      SendAmqp(
        Option(n.get("host")).map(_.asText).getOrElse("localhost"),
        Option(n.get("port")).map(_.asInt).getOrElse(5672),
        ex.flatMap(e => Option(e.get("name")).map(_.asText)).getOrElse("cdp"),
        exType,
        ex.flatMap(e => Option(e.get("durable")).map(_.asBoolean)).getOrElse(true),
        ex.flatMap(e => Option(e.get("auto-delete")).map(_.asBoolean)).getOrElse(false),
        opt(n, "routing-key"),
        expiration, priority,
        Option(n.get("persistent")).map(_.asBoolean),
        opt(n, "jq-expr"))
    case "send-redis" =>
      val key = opt(n, "key"); val channel = opt(n, "channel")
      require(key.isDefined != channel.isDefined,
        s"step '$step': send-redis needs key (RPUSH) XOR channel (PUBLISH)")
      SendRedis(
        Option(n.get("host")).map(_.asText).getOrElse("localhost"),
        Option(n.get("port")).map(_.asInt).getOrElse(6379),
        key.getOrElse(channel.get),
        if (key.isDefined) "rpush" else "publish",
        opt(n, "jq-expr"))
    case other =>
      throw new IllegalArgumentException(s"step '$step': unsupported step function '$other'")
  }

  /** DAG + semantic validation (reference src/pipeline.ts:55-99). */
  def validate(tpl: PipelineTemplate): Unit = {
    val names = tpl.steps.map(_.name)
    require(!names.contains("$input"), "'$input' is a reserved step name")
    require(names.distinct.size == names.size, "duplicate step names")
    val known = names.toSet + "$input"
    tpl.steps.foreach { s =>
      s.after.foreach(a => require(known.contains(a),
        s"step '${s.name}': dangling dependency '$a'"))
      require(s.window.events >= 1, s"step '${s.name}': window.events must be >= 1")
      require(s.window.seconds > 0 || s.window.seconds == -1,
        s"step '${s.name}': window.seconds must be positive")
    }
    // cycle check: Kahn over the after-edges
    val deps = tpl.steps.map(s => s.name ->
      s.after.filterNot(_ == "$input").toSet).toMap
    var remaining = deps
    var progress = true
    while (remaining.nonEmpty && progress) {
      val ready = remaining.collect { case (n, d) if d.forall(!remaining.contains(_)) => n }
      progress = ready.nonEmpty
      remaining = remaining -- ready
    }
    require(remaining.isEmpty, s"dependency cycle among steps: ${remaining.keys.mkString(", ")}")
    // in-subset `function(events)` forms (with the prelude's `local`
    // definitions prepended, reference io/jsonnet.ts:14-15) compile to
    // native Columns (JsonnetCompiler); everything else is gated on a
    // helper binary (reference ships a Go stream-jsonnet helper; none
    // is available offline) — same gate as the reference's PATH check
    // (src/io/json-processor.ts:118-122)
    tpl.steps.foreach { s =>
      s.fn match {
        case SendReceiveJsonnet(expr, wrapName) =>
          val program = tpl.jsonnetPrelude.fold(expr)(p => p + "\n" + expr)
          val compilable = wrapName.isEmpty &&
            graft.functions.JsonnetCompiler.tryCompile(program).isDefined
          val bin = sys.env.get("GRAFT_JSONNET_BIN")
          require(compilable ||
            bin.exists(b => java.nio.file.Files.isExecutable(java.nio.file.Paths.get(b))),
            s"step '${s.name}': this send-receive-jsonnet expression is outside the compiled subset and needs GRAFT_JSONNET_BIN to point at a stream-jsonnet helper binary")
        case _ => ()
      }
    }
  }

  /** Topological order of steps (stable w.r.t. declaration order). */
  def topoOrder(tpl: PipelineTemplate): Seq[StepSpec] = {
    val byName = tpl.steps.map(s => s.name -> s).toMap
    val visited = scala.collection.mutable.LinkedHashSet[String]()
    def visit(n: String): Unit = {
      if (n != "$input" && !visited.contains(n)) {
        byName(n).after.foreach(visit)
        visited += n
      }
    }
    tpl.steps.foreach(s => visit(s.name))
    visited.toSeq.map(byName)
  }

  // ---- env placeholder substitution (reference src/utils.ts:105-120) ----

  /** Replace `${VAR}` placeholders from the given environment; missing
    * variables resolve to the empty string, like envsubst.
    */
  def envsubst(text: String, env: Map[String, String] = sys.env): String =
    "\\$\\{([A-Za-z_][A-Za-z0-9_]*)\\}".r
      .replaceAllIn(text, m => java.util.regex.Matcher.quoteReplacement(env.getOrElse(m.group(1), "")))

  // ---- helpers ----

  private def iter[T](it: java.util.Iterator[T]): Iterator[T] =
    scala.jdk.CollectionConverters.IteratorHasAsScala(it).asScala

  private def req(n: JsonNode, field: String): JsonNode = {
    val v = n.get(field)
    require(v != null, s"missing required field '$field'")
    v
  }

  private def opt(n: JsonNode, field: String): Option[String] =
    Option(n.get(field)).map(_.asText)

  private def headersOf(n: JsonNode): Map[String, String] =
    Option(n.get("headers")).map { h =>
      iter(h.fieldNames()).map(k => k -> h.get(k).asText).toMap
    }.getOrElse(Map.empty)

  private def numOf(n: Option[JsonNode], dflt: Double): Double =
    n.map(v => if (v.isTextual) v.asText.toDouble else v.asDouble).getOrElse(dflt)
}
