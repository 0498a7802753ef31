package graft.core

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Deterministic name-based UUIDv5 (SHA-1), RFC 4122 §4.3.
  *
  * The reference derives every chunk id as
  * `uuid.uuid5(NAMESPACE_DNS, "-".join(map(str, parts)))`
  * (reference: src/shared/utils.py:5-10). Deterministic ids are what make
  * vector-store upserts idempotent under retry (reference: README.md:210)
  * — the same property makes Spark task re-execution safe for our sinks.
  *
  * `java.util.UUID.nameUUIDFromBytes` is v3/MD5, so v5 is hand-rolled.
  */
object Uuid5 {
  /** Namespace used by the reference (uuid.NAMESPACE_DNS). */
  final val DnsNamespace = "6ba7b810-9dad-11d1-80b4-00c04fd430c8"

  private val namespaceBytes: Array[Byte] = toBytes(java.util.UUID.fromString(DnsNamespace))

  private def toBytes(u: java.util.UUID): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(16)
    b.putLong(u.getMostSignificantBits)
    b.putLong(u.getLeastSignificantBits)
    b.array()
  }

  /** uuid5(NAMESPACE_DNS, name) as a lowercase hyphenated string. */
  def of(name: String): String = {
    val md = digest()
    md.update(name.getBytes(StandardCharsets.UTF_8))
    finish(md)
  }

  /** The reference's `generate_uuid_from_tuple`: uuid5 of the parts
    * joined with "-". Each part's UTF-8 bytes and the separators go
    * straight into the digest; the joined name is never built. */
  def ofParts(parts: Any*): String = {
    val md = digest()
    var first = true
    parts.foreach { p =>
      if (!first) md.update('-'.toByte)
      md.update(String.valueOf(p).getBytes(StandardCharsets.UTF_8))
      first = false
    }
    finish(md)
  }

  /** A SHA-1 digest fed the namespace. MessageDigest is not thread-safe;
    * cheap to instantiate. */
  private def digest(): MessageDigest = {
    val md = MessageDigest.getInstance("SHA-1")
    md.update(namespaceBytes)
    md
  }

  private def finish(md: MessageDigest): String = {
    val h = md.digest() // 20 bytes; UUID uses the first 16
    h(6) = ((h(6) & 0x0f) | 0x50).toByte // version 5
    h(8) = ((h(8) & 0x3f) | 0x80).toByte // RFC 4122 variant
    val bb = java.nio.ByteBuffer.wrap(h, 0, 16)
    new java.util.UUID(bb.getLong, bb.getLong).toString
  }
}
