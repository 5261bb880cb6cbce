package graft.io

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException, InputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8

/** Minimal RESP (REdis Serialization Protocol, v2) wire values. */
object Resp {
  sealed trait Value
  final case class Simple(s: String) extends Value
  final case class Err(msg: String) extends Value
  final case class Num(n: Long) extends Value
  final case class Bulk(s: String) extends Value
  case object NullValue extends Value
  final case class Arr(items: Seq[Value]) extends Value
}

/** A pure-JVM Redis client over a raw socket speaking RESP2 — no
  * client library (zero egress environment). Covers what the
  * reference's redis input and send-redis sink use
  * (src/input/redis.ts:130-237, src/step-functions/send-redis.ts:
  * 100-191): list queues (RPUSH/BLPOP/LPOP), pub/sub
  * (PUBLISH/SUBSCRIBE), AUTH/SELECT on connect.
  *
  * One client per connection, not thread-safe — matches the
  * one-client-per-partition-task lifecycle of
  * [[graft.sinks.BrokerSink]].
  */
final class RespClient(host: String, port: Int, connectTimeoutMs: Int = 5000,
                       soTimeoutMs: Int = 0) extends AutoCloseable {
  private val socket = new Socket()
  socket.connect(new InetSocketAddress(host, port), connectTimeoutMs)
  if (soTimeoutMs > 0) socket.setSoTimeout(soTimeoutMs)
  private val out = new BufferedOutputStream(socket.getOutputStream)
  private val in: InputStream = new BufferedInputStream(socket.getInputStream)

  /** Send one command, read one reply. Protocol errors (`-ERR ...`)
    * come back as [[Resp.Err]]; the caller decides severity.
    */
  def command(args: String*): Resp.Value = {
    val sb = new java.io.ByteArrayOutputStream()
    sb.write(s"*${args.length}\r\n".getBytes(UTF_8))
    args.foreach { a =>
      val b = a.getBytes(UTF_8)
      sb.write(s"$$${b.length}\r\n".getBytes(UTF_8))
      sb.write(b)
      sb.write('\r'); sb.write('\n')
    }
    out.write(sb.toByteArray)
    out.flush()
    readValue()
  }

  // ---- typed helpers ----

  def auth(password: String): Unit = expectOk(command("AUTH", password))
  def select(db: Int): Unit = expectOk(command("SELECT", db.toString))

  def rpush(key: String, value: String): Long = expectNum(command("RPUSH", key, value))
  def publish(channel: String, value: String): Long = expectNum(command("PUBLISH", channel, value))

  /** Blocking pop: Some(key -> value), or None on timeout (nil reply). */
  def blpop(timeoutSeconds: Int, keys: String*): Option[(String, String)] =
    command(("BLPOP" +: keys :+ timeoutSeconds.toString): _*) match {
      case Resp.Arr(Seq(Resp.Bulk(k), Resp.Bulk(v))) => Some(k -> v)
      case Resp.NullValue => None
      case other => throw new java.io.IOException(s"unexpected BLPOP reply: $other")
    }

  def lpop(key: String): Option[String] = command("LPOP", key) match {
    case Resp.Bulk(v)   => Some(v)
    case Resp.NullValue => None
    case other => throw new java.io.IOException(s"unexpected LPOP reply: $other")
  }

  /** `LPOP key count` (Redis ≥ 6.2): up to `count` elements in ONE
    * round trip — the micro-batch admission pop of
    * [[graft.sources.RedisQueueSource]]. Empty list ⇒ nil reply ⇒
    * empty Seq.
    */
  def lpopCount(key: String, count: Int): Seq[String] =
    command("LPOP", key, count.toString) match {
      case Resp.Arr(items) => items.map {
        case Resp.Bulk(v) => v
        case other => throw new java.io.IOException(s"unexpected LPOP element: $other")
      }
      case Resp.NullValue => Seq.empty
      case other => throw new java.io.IOException(s"unexpected LPOP reply: $other")
    }

  /** Enter subscribe mode on `channels`; after this, the connection
    * only delivers pushed messages — use [[nextMessage]].
    */
  def subscribe(channels: String*): Unit = {
    // one confirmation array arrives per channel
    command(("SUBSCRIBE" +: channels): _*)
    (1 until channels.length).foreach(_ => readValue())
  }

  /** Next pushed pub/sub payload: (channel, message). */
  def nextMessage(): (String, String) = readValue() match {
    case Resp.Arr(Seq(Resp.Bulk("message"), Resp.Bulk(ch), Resp.Bulk(m))) => (ch, m)
    case other => throw new java.io.IOException(s"unexpected pub/sub push: $other")
  }

  override def close(): Unit = socket.close()

  // ---- wire parsing ----

  private def expectOk(v: Resp.Value): Unit = v match {
    case Resp.Simple(_) => ()
    case Resp.Err(m)    => throw new java.io.IOException(s"redis error: $m")
    case other          => throw new java.io.IOException(s"unexpected reply: $other")
  }
  private def expectNum(v: Resp.Value): Long = v match {
    case Resp.Num(n) => n
    case Resp.Err(m) => throw new java.io.IOException(s"redis error: $m")
    case other       => throw new java.io.IOException(s"unexpected reply: $other")
  }

  private def readLine(): String = {
    val sb = new java.io.ByteArrayOutputStream()
    var c = in.read()
    while (c != '\r') {
      if (c == -1) throw new EOFException("redis connection closed mid-reply")
      sb.write(c)
      c = in.read()
    }
    if (in.read() != '\n') throw new java.io.IOException("malformed RESP line ending")
    new String(sb.toByteArray, UTF_8)
  }

  private def readValue(): Resp.Value = in.read() match {
    case '+' => Resp.Simple(readLine())
    case '-' => Resp.Err(readLine())
    case ':' => Resp.Num(readLine().toLong)
    case '$' =>
      val n = readLine().toInt
      if (n < 0) Resp.NullValue
      else {
        val buf = in.readNBytes(n)
        if (buf.length < n) throw new EOFException("redis connection closed mid-bulk")
        if (in.read() != '\r' || in.read() != '\n')
          throw new java.io.IOException("malformed bulk string terminator")
        Resp.Bulk(new String(buf, UTF_8))
      }
    case '*' =>
      val n = readLine().toInt
      if (n < 0) Resp.NullValue
      else Resp.Arr((0 until n).map(_ => readValue()))
    case -1 => throw new EOFException("redis connection closed")
    case t  => throw new java.io.IOException(s"unknown RESP type byte: ${t.toChar}")
  }
}
