package graft.io

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException, IOException}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8

/** MQTT 3.1.1 packet codec — the subset the reference's mqtt input and
  * send-mqtt sink exercise (reference src/input/mqtt.ts:109-213,
  * src/step-functions/send-mqtt.ts:86-185): CONNECT/CONNACK,
  * SUBSCRIBE/SUBACK, PUBLISH at qos 0/1/2 (PUBACK for qos 1, the
  * PUBREC/PUBREL/PUBCOMP handshake for qos 2), DISCONNECT. Pure JVM,
  * no client library — same offline-viable pattern as
  * [[RespClient]]/[[AmqpClient]].
  *
  * The reference sets an MQTT 5 `contentType` property on publishes;
  * 3.1.1 has no properties, so that single field is a documented
  * divergence (payload and topic semantics are identical).
  */
object Mqtt {
  val Connect = 1; val Connack = 2; val Publish = 3; val Puback = 4
  val Pubrec = 5; val Pubrel = 6; val Pubcomp = 7
  val Subscribe = 8; val Suback = 9; val Unsubscribe = 10; val Unsuback = 11
  val Pingreq = 12; val Pingresp = 13; val Disconnect = 14

  /** MQTT variable-length "remaining length" (7 bits per byte, MSB
    * continues; max 4 bytes).
    */
  def writeRemainingLength(out: DataOutputStream, n0: Int): Unit = {
    var n = n0
    var continue = true
    while (continue) {
      var digit = n % 128
      n /= 128
      if (n > 0) digit |= 0x80 else continue = false
      out.writeByte(digit)
    }
  }

  def readRemainingLength(in: DataInputStream): Int = {
    var multiplier = 1
    var value = 0
    var digit = 0
    var iterations = 0
    do {
      digit = in.readUnsignedByte()
      value += (digit & 0x7f) * multiplier
      multiplier *= 128
      iterations += 1
      if (iterations > 4) throw new IOException("malformed remaining length")
    } while ((digit & 0x80) != 0)
    value
  }

  def utf8(s: String): Array[Byte] = {
    val b = s.getBytes(UTF_8)
    Array[Byte]((b.length >> 8).toByte, (b.length & 0xff).toByte) ++ b
  }
}

/** A pure-JVM MQTT 3.1.1 client over a raw socket. One client per
  * connection; reads are single-threaded (matches the
  * one-client-per-partition-task lifecycle of
  * [[graft.sinks.BrokerSink]]) but packet WRITES are internally
  * synchronized so a second thread may ack ([[ackQos1]]) while the
  * owner blocks reading — the streaming source's commit hook needs
  * exactly that.
  *
  * `cleanSession = false` + a stable `clientId` asks the broker to
  * hold session state across connections: qos-1 deliveries left
  * un-PUBACKed by a dead connection are redelivered (DUP) to the next
  * one — the at-least-once leg of MQTT 3.1.1 §4.4 the streaming
  * source builds on. `manualAckQos1` defers inbound qos-1 PUBACKs to
  * the caller (the reference defers them the same way under
  * backpressure via mqtt.js handleMessage, src/input/mqtt.ts:143-151).
  */
final class MqttClient(host: String, port: Int,
                       clientId: String = s"graft-${java.util.UUID.randomUUID().toString.take(8)}",
                       user: Option[String] = None, password: Option[String] = None,
                       connectTimeoutMs: Int = 5000, cleanSession: Boolean = true,
                       manualAckQos1: Boolean = false) extends AutoCloseable {
  import Mqtt._

  private val socket = new Socket()
  socket.connect(new InetSocketAddress(host, port), connectTimeoutMs)
  socket.setTcpNoDelay(true)
  private val out = new DataOutputStream(new BufferedOutputStream(socket.getOutputStream))
  private val in = new DataInputStream(new BufferedInputStream(socket.getInputStream))
  private var packetId = 0
  private val pending = scala.collection.mutable.Queue[(String, Array[Byte], Int)]()

  // ---- CONNECT / CONNACK ----
  locally {
    val payload = new java.io.ByteArrayOutputStream()
    payload.write(utf8(clientId))
    user.foreach(u => payload.write(utf8(u)))
    password.foreach(p => payload.write(utf8(p)))
    var flags = if (cleanSession) 0x02 else 0x00
    if (user.isDefined) flags |= 0x80
    if (password.isDefined) flags |= 0x40
    val vh = new java.io.ByteArrayOutputStream()
    vh.write(utf8("MQTT"))
    vh.write(4) // protocol level 3.1.1
    vh.write(flags)
    vh.write(0); vh.write(0) // keep-alive 0 (disabled)
    writePacket(Connect, 0, vh.toByteArray ++ payload.toByteArray)
    val (tpe, _, body) = readPacket()
    if (tpe != Connack) throw new IOException(s"expected CONNACK, got type $tpe")
    val rc = body(1) & 0xff
    if (rc != 0) throw new IOException(s"mqtt connection refused: code $rc")
  }

  /** SUBSCRIBE → SUBACK; returns the granted qos. */
  def subscribe(topicFilter: String, qos: Int = 0): Int = {
    val pid = nextPacketId()
    val body = Array[Byte]((pid >> 8).toByte, (pid & 0xff).toByte) ++
      utf8(topicFilter) :+ qos.toByte
    writePacket(Subscribe, 0x2, body)
    val ack = expectPacket(Suback)
    ack(2) & 0xff
  }

  /** Next received PUBLISH as (topic, payload-text); acks qos-1
    * deliveries unless `manualAckQos1`. None once the broker closes
    * the connection.
    */
  def nextMessage(): Option[(String, String)] =
    nextMessageWithPid().map { case (t, p, _) => (t, p) }

  /** Like [[nextMessage]] but also yields the delivery's packet id
    * (0 for qos 0) so a `manualAckQos1` caller can [[ackQos1]] later.
    */
  def nextMessageWithPid(): Option[(String, String, Int)] = {
    if (pending.nonEmpty) {
      val (t, p, pid) = pending.dequeue()
      return Some((t, new String(p, UTF_8), pid))
    }
    try {
      while (true) {
        val (tpe, flags, body) = readPacket()
        if (tpe == Publish) {
          val (topic, payload, pid) = decodePublish(flags, body)
          return Some((topic, new String(payload, UTF_8), pid))
        } else if (tpe == Pubrel) completeQos2(body)
        // everything else (PINGRESP, stray acks) is skipped
      }
      None
    } catch { case _: EOFException => None }
  }

  /** Deferred qos-1 delivery ack (`manualAckQos1` mode). Safe to call
    * from a different thread than the read loop.
    */
  def ackQos1(pid: Int): Unit =
    writePacket(Puback, 0, Array[Byte]((pid >> 8).toByte, (pid & 0xff).toByte))

  /** PUBLISH at qos 0 (fire-and-forget), qos 1 (wait for PUBACK), or
    * qos 2 (full PUBREC → PUBREL → PUBCOMP exactly-once handshake,
    * MQTT 3.1.1 §4.3.3).
    */
  def publish(topic: String, payload: Array[Byte], qos: Int = 0): Unit = {
    require(qos >= 0 && qos <= 2, s"qos must be 0, 1 or 2, got $qos")
    val vh = new java.io.ByteArrayOutputStream()
    vh.write(utf8(topic))
    val pid = if (qos > 0) nextPacketId() else 0
    if (qos > 0) { vh.write(pid >> 8); vh.write(pid & 0xff) }
    writePacket(Publish, qos << 1, vh.toByteArray ++ payload)
    if (qos == 1) { expectPacket(Puback); () }
    else if (qos == 2) {
      expectPacket(Pubrec)
      writePacket(Pubrel, 0x2, Array[Byte]((pid >> 8).toByte, (pid & 0xff).toByte))
      expectPacket(Pubcomp)
      ()
    }
  }

  override def close(): Unit = {
    try { writePacket(Disconnect, 0, Array.empty) }
    catch { case _: IOException => () }
    finally socket.close()
  }

  // ---- packet plumbing ----

  private def nextPacketId(): Int = { packetId += 1; if (packetId > 0xffff) packetId = 1; packetId }

  // synchronized: acks may be written by a commit thread while the
  // read loop writes its own inline acks (distinct packets must not
  // interleave mid-frame)
  private def writePacket(tpe: Int, flags: Int, body: Array[Byte]): Unit =
    out.synchronized {
      out.writeByte((tpe << 4) | flags)
      writeRemainingLength(out, body.length)
      out.write(body)
      out.flush()
    }

  private def readPacket(): (Int, Int, Array[Byte]) = {
    val h = in.read()
    if (h == -1) throw new EOFException("mqtt connection closed")
    val len = readRemainingLength(in)
    val body = in.readNBytes(len)
    if (body.length < len) throw new EOFException("mqtt connection closed mid-packet")
    ((h >> 4) & 0xf, h & 0xf, body)
  }

  /** Wait for a packet type, queueing PUBLISHes that arrive first. */
  private def expectPacket(tpe: Int): Array[Byte] = {
    while (true) {
      val (t, flags, body) = readPacket()
      if (t == tpe) return body
      if (t == Publish) pending.enqueue(decodePublish(flags, body))
      else if (t == Pubrel) completeQos2(body)
    }
    throw new IllegalStateException("unreachable")
  }

  /** Receiver side of the qos-2 handshake: PUBREL → PUBCOMP. */
  private def completeQos2(body: Array[Byte]): Unit =
    writePacket(Pubcomp, 0, Array[Byte](body(0), body(1)))

  /** Returns (topic, payload, packetId — 0 for qos 0); starts the
    * delivery ack inline — PUBACK for qos 1 (unless `manualAckQos1`),
    * PUBREC for qos 2 (PUBCOMP follows when the broker's PUBREL is
    * read by one of the receive loops).
    */
  private def decodePublish(flags: Int, body: Array[Byte]): (String, Array[Byte], Int) = {
    val qos = (flags >> 1) & 0x3
    val topicLen = ((body(0) & 0xff) << 8) | (body(1) & 0xff)
    val topic = new String(body, 2, topicLen, UTF_8)
    var off = 2 + topicLen
    var pid = 0
    if (qos > 0) {
      pid = ((body(off) & 0xff) << 8) | (body(off + 1) & 0xff)
      off += 2
      if (qos == 2)
        writePacket(Pubrec, 0, Array[Byte]((pid >> 8).toByte, (pid & 0xff).toByte))
      else if (!manualAckQos1)
        writePacket(Puback, 0, Array[Byte]((pid >> 8).toByte, (pid & 0xff).toByte))
    }
    (topic, java.util.Arrays.copyOfRange(body, off, body.length), pid)
  }
}
