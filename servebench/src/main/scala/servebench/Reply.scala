package servebench

import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.jdk.CollectionConverters._

/** What the harness checks about one tool reply. `rows` and `hash` are
  * the result's row count and an order-insensitive digest of its rows
  * (see [[Reply.digest]]); `text` keeps the head of an error reply so a
  * refusal can be matched against the guard or allowlist message. */
final case class Outcome(wellFormed: Boolean, isError: Boolean, rows: Long,
    hash: String, text: String)

object Reply {
  private val mapper = new ObjectMapper()

  /** Parse a JSON-RPC `tools/call` reply. A reply that is not a JSON-RPC
    * 2.0 result with a text content item is not well-formed. */
  def outcome(reply: String, expectId: String): Outcome =
    try {
      val root = mapper.readTree(reply)
      val result = root.get("result")
      val ok = root.path("jsonrpc").asText() == "2.0" &&
        root.path("id").asText() == expectId && result != null &&
        result.path("content").isArray && result.path("content").size() == 1
      if (!ok) Outcome(wellFormed = false, isError = true, 0, "", reply.take(300))
      else {
        val isError = result.path("isError").asBoolean(false)
        val text = result.path("content").get(0).path("text").asText()
        if (isError) Outcome(wellFormed = true, isError = true, 0, "", text.take(300))
        else {
          val (rows, hash) = digest(mapper.readTree(text))
          Outcome(wellFormed = true, isError = false, rows, hash, "")
        }
      }
    } catch {
      case e: Exception =>
        Outcome(wellFormed = false, isError = true, 0, "", s"${e.getClass.getSimpleName}: ${reply.take(200)}")
    }

  /** Rows of a tool result: `data` of an execute_query envelope, else the
    * top-level array the metadata and explain tools return. */
  def digest(body: JsonNode): (Long, String) = {
    val rows = if (body.isObject && body.has("data")) body.get("data") else body
    if (!rows.isArray) (1L, hex(rowHash(canonical(rows))))
    else {
      var sum = 0L
      rows.elements().asScala.foreach(r => sum += rowHash(canonical(r)))
      (rows.size().toLong, hex(sum))
    }
  }

  /** Canonical text of one value. Floating-point numbers keep nine
    * significant digits, so a last-bit difference from summation order
    * across partitions does not change the digest. */
  def canonical(v: JsonNode): String = v match {
    case o if o.isObject =>
      o.properties().asScala.map(e => e.getKey + "=" + canonical(e.getValue)).mkString("{", "\u0001", "}")
    case a if a.isArray => a.elements().asScala.map(canonical).mkString("[", "\u0001", "]")
    case d if d.isFloatingPointNumber => canonicalDouble(d.asDouble())
    case n if n.isNull => "null"
    case other => other.asText()
  }

  def canonicalDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else String.format(java.util.Locale.ROOT, "%.9g", Double.box(d))

  /** 64-bit FNV-1a of the UTF-8 text, finished with a murmur3 mix; rows
    * combine by addition, which makes the digest order-insensitive. */
  def rowHash(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = s.getBytes(StandardCharsets.UTF_8)
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xff); h *= 0x100000001b3L; i += 1 }
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L; h ^= h >>> 33
    h
  }

  def hex(h: Long): String = f"$h%016x"
}
