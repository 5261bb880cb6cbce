package graft.io

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream, EOFException, IOException}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

/** AMQP 0-9-1 wire codec: frames, short/long strings, field tables,
  * basic-properties — the subset the reference's amqp input and
  * send-amqp sink exercise (reference src/input/amqp.ts:181-343,
  * src/step-functions/send-amqp.ts:127-264). Pure JVM, no client
  * library (zero-egress environment), same offline-viable pattern as
  * [[RespClient]].
  *
  * All multi-byte integers are network (big-endian) order, which is
  * what `DataOutputStream`/`DataInputStream` speak natively.
  */
object Amqp {

  val FrameMethod = 1
  val FrameHeader = 2
  val FrameBody = 3
  val FrameHeartbeat = 8
  val FrameEnd = 0xce

  /** One decoded content message from Basic.Deliver. */
  final case class Delivery(deliveryTag: Long, redelivered: Boolean,
                            exchange: String, routingKey: String,
                            props: BasicProps, body: Array[Byte]) {
    def bodyText: String = new String(body, UTF_8)
  }

  /** The basic-properties the reference sets when publishing
    * (content-type always; timestamp always; delivery-mode /
    * priority / expiration from step options).
    */
  final case class BasicProps(contentType: Option[String] = None,
                              deliveryMode: Option[Int] = None,
                              priority: Option[Int] = None,
                              expiration: Option[String] = None,
                              timestamp: Option[Long] = None)

  /** Argument encoder for method/header payloads. */
  final class Writer {
    private val bos = new ByteArrayOutputStream()
    private val out = new DataOutputStream(bos)
    def u8(v: Int): Writer = { out.writeByte(v); this }
    def u16(v: Int): Writer = { out.writeShort(v); this }
    def u32(v: Long): Writer = { out.writeInt(v.toInt); this }
    def u64(v: Long): Writer = { out.writeLong(v); this }
    def shortstr(s: String): Writer = {
      val b = s.getBytes(UTF_8)
      require(b.length < 256, s"shortstr too long: ${b.length}")
      out.writeByte(b.length); out.write(b); this
    }
    def longstr(b: Array[Byte]): Writer = { out.writeInt(b.length); out.write(b); this }
    def longstr(s: String): Writer = longstr(s.getBytes(UTF_8))
    /** AMQP field table; value types cover what queue/exchange
      * arguments need (x-message-ttl etc. are 'I'/'l' numbers,
      * x-dead-letter-exchange is an 'S' string).
      */
    def table(t: Seq[(String, Any)]): Writer = {
      val w = new Writer
      t.foreach { case (k, v) =>
        w.shortstr(k)
        v match {
          case b: Boolean => w.u8('t'); w.u8(if (b) 1 else 0)
          case i: Int     => w.u8('I'); w.u32(i.toLong)
          case l: Long    => w.u8('l'); w.u64(l)
          case s: String  => w.u8('S'); w.longstr(s)
          case other => throw new IllegalArgumentException(
            s"unsupported field-table value for '$k': $other")
        }
      }
      longstr(w.bytes)
    }
    def bytes: Array[Byte] = { out.flush(); bos.toByteArray }
  }

  /** Argument decoder over a method/header payload. */
  final class Reader(payload: Array[Byte]) {
    private val in = new DataInputStream(new ByteArrayInputStream(payload))
    def u8(): Int = in.readUnsignedByte()
    def u16(): Int = in.readUnsignedShort()
    def u32(): Long = in.readInt().toLong & 0xffffffffL
    def u64(): Long = in.readLong()
    def shortstr(): String = {
      val n = in.readUnsignedByte()
      new String(in.readNBytes(n), UTF_8)
    }
    def longstrBytes(): Array[Byte] = in.readNBytes(in.readInt())
    def longstr(): String = new String(longstrBytes(), UTF_8)
    /** Field table decoded into a Seq (insertion order preserved). */
    def table(): Seq[(String, Any)] = {
      val bytes = longstrBytes()
      val r = new Reader(bytes)
      val b = Seq.newBuilder[(String, Any)]
      var remaining = bytes.length
      while (remaining > 0) {
        val before = r.in.available()
        val k = r.shortstr()
        b += (k -> r.fieldValue())
        remaining -= (before - r.in.available())
      }
      b.result()
    }
    private def fieldValue(): Any = u8().toChar match {
      case 't' => u8() != 0
      case 'b' => in.readByte()
      case 's' => in.readShort()
      case 'I' => in.readInt()
      case 'l' => in.readLong()
      case 'f' => in.readFloat()
      case 'd' => in.readDouble()
      case 'S' => longstr()
      case 'T' => u64()
      case 'V' => null
      case 'F' => table()
      case 'A' =>
        val bytes = longstrBytes()
        val r = new Reader(bytes)
        val b = Seq.newBuilder[Any]
        var remaining = bytes.length
        while (remaining > 0) {
          val before = r.in.available()
          b += r.fieldValue()
          remaining -= (before - r.in.available())
        }
        b.result()
      case 'D' => in.readNBytes(5); null // decimal: scale + value, unused
      case other => throw new IOException(s"unsupported field type '$other'")
    }
  }

  /** Encode the content-header property flags + property list for
    * [[BasicProps]] (AMQP 0-9-1 §4.2.6.1: flag bits from 15 down —
    * content-type 15, delivery-mode 12, priority 11, expiration 8,
    * timestamp 6).
    */
  def writeProps(w: Writer, p: BasicProps): Unit = {
    var flags = 0
    if (p.contentType.isDefined) flags |= (1 << 15)
    if (p.deliveryMode.isDefined) flags |= (1 << 12)
    if (p.priority.isDefined) flags |= (1 << 11)
    if (p.expiration.isDefined) flags |= (1 << 8)
    if (p.timestamp.isDefined) flags |= (1 << 6)
    w.u16(flags)
    p.contentType.foreach(w.shortstr)
    p.deliveryMode.foreach(w.u8)
    p.priority.foreach(w.u8)
    p.expiration.foreach(w.shortstr)
    p.timestamp.foreach(w.u64)
  }

  /** Decode basic-properties (ignores flags outside the supported
    * set by reading them in spec order).
    */
  def readProps(r: Reader): BasicProps = {
    val flags = r.u16()
    def has(bit: Int) = (flags & (1 << bit)) != 0
    val contentType = if (has(15)) Some(r.shortstr()) else None
    if (has(14)) r.shortstr() // content-encoding
    if (has(13)) r.table()    // headers
    val deliveryMode = if (has(12)) Some(r.u8()) else None
    val priority = if (has(11)) Some(r.u8()) else None
    if (has(10)) r.shortstr() // correlation-id
    if (has(9)) r.shortstr()  // reply-to
    val expiration = if (has(8)) Some(r.shortstr()) else None
    if (has(7)) r.shortstr()  // message-id
    val timestamp = if (has(6)) Some(r.u64()) else None
    BasicProps(contentType, deliveryMode, priority, expiration, timestamp)
  }
}

/** A pure-JVM AMQP 0-9-1 client over a raw socket: PLAIN handshake,
  * one channel, exchange/queue assertion, bind, consume+ack, recover,
  * publish with basic-properties — exactly the broker conversation the
  * reference holds (src/input/amqp.ts, src/step-functions/send-amqp.ts).
  *
  * One client per connection, not thread-safe — matches the
  * one-client-per-partition-task lifecycle of
  * [[graft.sinks.BrokerSink]]. Deliveries arriving while a synchronous
  * RPC waits are queued and surfaced by [[nextDelivery]].
  */
final class AmqpClient(host: String, port: Int, vhost: String = "/",
                       user: String = "guest", password: String = "guest",
                       connectTimeoutMs: Int = 5000) extends AutoCloseable {
  import Amqp._

  private val socket = new Socket()
  socket.connect(new InetSocketAddress(host, port), connectTimeoutMs)
  socket.setTcpNoDelay(true)
  private val out = new DataOutputStream(new BufferedOutputStream(socket.getOutputStream))
  private val in = new DataInputStream(new BufferedInputStream(socket.getInputStream))
  private val deliveries = mutable.Queue[Delivery]()
  private var frameMax = 131072

  // ---- connection handshake (AMQP 0-9-1 §4.2.2) ----
  out.write("AMQP".getBytes(UTF_8)); out.write(Array[Byte](0, 0, 9, 1)); out.flush()
  expectMethod(10, 10) // Connection.Start; fields ignored — we always offer PLAIN
  sendMethod(0, 10, 11, new Writer()
    .table(Seq("product" -> "graft", "platform" -> "jvm"))
    .shortstr("PLAIN")
    .longstr(Array[Byte](0) ++ user.getBytes(UTF_8) ++ Array[Byte](0) ++ password.getBytes(UTF_8))
    .shortstr("en_US").bytes)
  locally {
    val tune = expectMethod(10, 30) // Connection.Tune
    tune.u16() // channel-max
    val fm = tune.u32()
    if (fm > 0) frameMax = math.min(fm, 1 << 20).toInt
    sendMethod(0, 10, 31, new Writer().u16(1).u32(frameMax.toLong).u16(0).bytes)
  }
  sendMethod(0, 10, 40, new Writer().shortstr(vhost).shortstr("").u8(0).bytes)
  expectMethod(10, 41) // Connection.OpenOk
  sendMethod(1, 20, 10, new Writer().shortstr("").bytes)
  expectMethod(20, 11) // Channel.OpenOk

  // ---- topology assertion ----

  /** Exchange.Declare → DeclareOk. */
  def exchangeDeclare(name: String, tpe: String = "topic",
                      durable: Boolean = true, autoDelete: Boolean = false): Unit = {
    var bits = 0
    if (durable) bits |= 2
    if (autoDelete) bits |= 4
    sendMethod(1, 40, 10, new Writer().u16(0).shortstr(name).shortstr(tpe)
      .u8(bits).table(Seq.empty).bytes)
    expectMethod(40, 11)
  }

  /** Queue.Declare → DeclareOk; returns the (possibly server-named)
    * queue. `args` carries the x-arguments (message-ttl, expires,
    * dead-letter-exchange, max-length, max-priority).
    */
  def queueDeclare(name: String = "", durable: Boolean = true,
                   autoDelete: Boolean = false,
                   args: Seq[(String, Any)] = Seq.empty): String = {
    var bits = 0
    if (durable) bits |= 2
    if (autoDelete) bits |= 8
    sendMethod(1, 50, 10, new Writer().u16(0).shortstr(name).u8(bits).table(args).bytes)
    val ok = expectMethod(50, 11)
    ok.shortstr() // queue name (message-count/consumer-count follow, unread)
  }

  /** Queue.Bind → BindOk. */
  def queueBind(queue: String, exchange: String, routingKey: String): Unit = {
    sendMethod(1, 50, 20, new Writer().u16(0).shortstr(queue).shortstr(exchange)
      .shortstr(routingKey).u8(0).table(Seq.empty).bytes)
    expectMethod(50, 21)
  }

  // ---- consuming ----

  /** Basic.Consume → ConsumeOk; returns the consumer tag. */
  def basicConsume(queue: String, noAck: Boolean = false): String = {
    var bits = 0
    if (noAck) bits |= 2
    sendMethod(1, 60, 20, new Writer().u16(0).shortstr(queue).shortstr("")
      .u8(bits).table(Seq.empty).bytes)
    expectMethod(60, 21).shortstr()
  }

  /** Next delivered message (blocking); None once the broker closes
    * the connection.
    */
  def nextDelivery(): Option[Delivery] = {
    try {
      while (deliveries.isEmpty) readUntil(-1, -1) // queues exactly one delivery per call
      Some(deliveries.dequeue())
    } catch {
      case _: EOFException =>
        if (deliveries.nonEmpty) Some(deliveries.dequeue()) else None
    }
  }

  /** Basic.Ack (fire-and-forget, like channel.ack). */
  def basicAck(deliveryTag: Long, multiple: Boolean = false): Unit =
    sendMethod(1, 60, 80, new Writer().u64(deliveryTag).u8(if (multiple) 1 else 0).bytes)

  /** Basic.Recover → RecoverOk: redeliver unacked messages (the
    * reference calls this when backpressure releases).
    */
  def basicRecover(requeue: Boolean = true): Unit = {
    sendMethod(1, 60, 110, new Writer().u8(if (requeue) 1 else 0).bytes)
    expectMethod(60, 111)
  }

  // ---- publishing ----

  /** Basic.Publish + content header + body frames (split at the tuned
    * frame-max). Fire-and-forget, like the reference's ch.publish.
    */
  def basicPublish(exchange: String, routingKey: String, body: Array[Byte],
                   props: BasicProps): Unit = {
    sendMethod(1, 60, 40, new Writer().u16(0).shortstr(exchange)
      .shortstr(routingKey).u8(0).bytes)
    val hw = new Writer().u16(60).u16(0).u64(body.length.toLong)
    writeProps(hw, props)
    writeFrame(FrameHeader, 1, hw.bytes)
    val chunk = frameMax - 8
    var off = 0
    while (off < body.length) {
      val n = math.min(chunk, body.length - off)
      writeFrame(FrameBody, 1, java.util.Arrays.copyOfRange(body, off, off + n))
      off += n
    }
    out.flush()
  }

  override def close(): Unit = {
    try {
      sendMethod(1, 20, 40, new Writer().u16(200).shortstr("bye").u16(0).u16(0).bytes)
      expectMethod(20, 41)
      sendMethod(0, 10, 50, new Writer().u16(200).shortstr("bye").u16(0).u16(0).bytes)
      expectMethod(10, 51)
    } catch { case _: IOException => () }
    finally socket.close()
  }

  /** Hard-close without the Close handshake: the polite [[close]]
    * READS the socket for its CloseOks, which deadlocks against a
    * thread concurrently blocked in [[nextDelivery]] (both readers
    * starve each other). A consumer being torn down by another thread
    * — the streaming source's stop — must drop the socket instead;
    * the blocked reader unwinds with EOF/IOException and un-acked
    * deliveries requeue broker-side, which is exactly the
    * at-least-once contract.
    */
  def abort(): Unit = socket.close()

  // ---- frame plumbing ----

  private def sendMethod(channel: Int, classId: Int, methodId: Int,
                         args: Array[Byte]): Unit = {
    val w = new Writer().u16(classId).u16(methodId)
    writeFrame(FrameMethod, channel, w.bytes ++ args)
    out.flush()
  }

  private def writeFrame(tpe: Int, channel: Int, payload: Array[Byte]): Unit = {
    out.writeByte(tpe)
    out.writeShort(channel)
    out.writeInt(payload.length)
    out.write(payload)
    out.writeByte(FrameEnd)
  }

  private def readFrame(): (Int, Int, Array[Byte]) = {
    val tpe = in.read()
    if (tpe == -1) throw new EOFException("amqp connection closed")
    val channel = in.readUnsignedShort()
    val size = in.readInt()
    val payload = in.readNBytes(size)
    if (payload.length < size) throw new EOFException("amqp connection closed mid-frame")
    if (in.readUnsignedByte() != FrameEnd) throw new IOException("missing frame-end octet")
    (tpe, channel, payload)
  }

  /** Wait for method (classId, methodId), queuing any deliveries that
    * arrive first; throws on Connection.Close / Channel.Close.
    */
  private def expectMethod(classId: Int, methodId: Int): Reader =
    readUntil(classId, methodId).getOrElse(
      throw new EOFException("amqp connection closed awaiting reply"))

  private def readUntil(classId: Int, methodId: Int): Option[Reader] = {
    while (true) {
      val (tpe, _, payload) = readFrame()
      tpe match {
        case FrameHeartbeat => ()
        case FrameMethod =>
          val r = new Reader(payload)
          val (c, m) = (r.u16(), r.u16())
          (c, m) match {
            case (cc, mm) if cc == classId && mm == methodId => return Some(r)
            case (60, 60) =>
              queueDelivery(r)
              if (classId < 0) return None // caller is draining deliveries
            case (10, 50) | (20, 40) => // Connection.Close / Channel.Close
              val code = r.u16(); val text = r.shortstr()
              try {
                if (c == 20) sendMethod(1, 20, 41, Array.empty)
                else sendMethod(0, 10, 51, Array.empty)
              } catch { case _: IOException => () }
              throw new IOException(s"amqp ${if (c == 10) "connection" else "channel"} closed by broker: $code $text")
            case _ => () // unsolicited method outside our subset: skip
          }
        case _ => () // stray header/body outside a tracked deliver: skip
      }
    }
    None
  }

  /** Assemble Basic.Deliver + content header + body frames into one
    * [[Amqp.Delivery]].
    */
  private def queueDelivery(r: Reader): Unit = {
    r.shortstr() // consumer-tag
    val tag = r.u64()
    val redelivered = r.u8() != 0
    val exchange = r.shortstr()
    val rk = r.shortstr()
    // content header
    var frame = readFrame()
    while (frame._1 == FrameHeartbeat) frame = readFrame()
    require(frame._1 == FrameHeader, s"expected content header, got frame type ${frame._1}")
    val hr = new Reader(frame._3)
    hr.u16(); hr.u16() // class-id, weight
    val bodySize = hr.u64()
    val props = readProps(hr)
    val body = new ByteArrayOutputStream()
    while (body.size() < bodySize) {
      val (btpe, _, bpayload) = readFrame()
      if (btpe == FrameBody) body.write(bpayload)
      else if (btpe != FrameHeartbeat)
        throw new IOException(s"expected body frame, got type $btpe")
    }
    deliveries.enqueue(Delivery(tag, redelivered, exchange, rk, props, body.toByteArray))
  }
}
