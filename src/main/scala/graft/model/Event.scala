package graft.model

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.Base64

/** One processing-history entry of an event.
  *
  * Mirrors the trace-point envelope of the reference system
  * (reference: src/event.ts:16-34): `i` is the unix timestamp in
  * seconds (fractional) at which a pipeline handled the event, `p` is
  * the pipeline name, `h` is the pipeline-template signature.
  */
final case class TracePoint(i: Double, p: String, h: String)

/** The universal record: a named, schema-free JSON payload with a
  * provenance trace (reference: src/event.ts:40-58, README.md:16-43).
  *
  * The payload `d` is kept as a JSON-encoded string so the Spark
  * schema stays fixed while payloads remain dynamically typed —
  * typed views are projected on demand with `from_json` /
  * `get_json_object`. `d == null` encodes an absent payload.
  */
final case class Event(n: String, d: String, t: Seq[TracePoint]) {

  /** Event time = the `i` of the last trace point (reference:
    * src/event.ts:96-101), or None for an un-traced event.
    */
  def timestamp: Option[Double] = t.lastOption.map(_.i)
}

object EventName {

  /** Valid symbols for event-name words (reference: src/pattern.ts:6-17). */
  private val nameChars: Set[Char] =
    (('A' to 'Z') ++ ('a' to 'z') ++ ('0' to '9') ++ Seq('-', '_', '$', ':')).toSet

  /** A valid name is made of recognized symbols and has only
    * non-empty dot-separated words (reference: src/pattern.ts:46-48).
    */
  def isValid(name: String): Boolean =
    name.forall(c => c == '.' || nameChars(c)) &&
      splitWords(name).forall(_.nonEmpty)

  /** Split into words; `-1` keeps trailing empty words so that
    * `"a."` is correctly judged invalid.
    */
  def splitWords(name: String): Seq[String] =
    name.split("\\.", -1).toSeq
}

/** SHA-1 signatures over JSON-encoded arguments, matching the
  * identity scheme of the reference (reference: src/utils.ts:58-84):
  * each non-null argument is JSON-encoded and fed to SHA-1; the
  * digest is base64url-encoded without padding.
  */
object Signatures {

  def sha1Base64Url(parts: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-1")
    parts.foreach(p => md.update(p.getBytes(StandardCharsets.UTF_8)))
    Base64.getUrlEncoder.withoutPadding.encodeToString(md.digest())
  }

  /** Signature of a pipeline/spec: SHA-1 over the canonical JSON text. */
  def ofJson(json: String): String = sha1Base64Url(Seq(json))
}
