package graft.codec

import com.google.common.hash.Hashing
import java.nio.charset.StandardCharsets

/** Deterministic non-crypto hashes the reference uses as surrogate keys. */
object Hashes {

  /** FarmHash Fingerprint64 — the `asset_id` fingerprint over
    * `code ‖ issuer ‖ type` (`/root/reference/internal/transform/asset.go:72-77`).
    * Guava's implementation is the canonical public FarmHash port. */
  def farmHash64(s: String): Long =
    Hashing.farmHashFingerprint64().hashBytes(s.getBytes(StandardCharsets.UTF_8)).asLong()

  def farmHashAssetId(assetCode: String, assetIssuer: String, assetType: String): Long =
    farmHash64(assetCode + assetIssuer + assetType)

  /** FNV-64a — orderbook star-schema dim keys
    * (`/root/reference/internal/transform/offer_normalized.go:108-178`). */
  val FnvOffset: Long = 0xcbf29ce484222325L
  val FnvPrime: Long = 0x100000001b3L

  def fnv64a(bytes: Array[Byte]): Long = {
    var h = FnvOffset
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xff).toLong
      h *= FnvPrime
      i += 1
    }
    h
  }

  def fnv64a(s: String): Long = fnv64a(s.getBytes(StandardCharsets.UTF_8))

  /** Rolling polynomial hash (base 31, wrapping mod 2^64) over the
    * normalized text: lowercase, whitespace runs collapsed to one space,
    * trimmed — the document-fingerprint primitive. Wrapping `Long`
    * arithmetic by construction (a column-level `aggregate` fold would
    * throw under ANSI mode the moment the polynomial exceeds 2^63). */
  def rollingHash64(s: String): Long = {
    val norm = s.toLowerCase(java.util.Locale.ROOT)
      .replaceAll("\\s+", " ").trim
    var acc = 0L
    var i = 0
    while (i < norm.length) {
      acc = acc * 31L + norm.charAt(i).toLong
      i += 1
    }
    acc
  }

  def sha256(bytes: Array[Byte]): Array[Byte] =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes)

  def sha256Hex(bytes: Array[Byte]): String = hex(sha256(bytes))

  private val lowerHex = java.util.HexFormat.of()

  /** Lower-case hex, two digits per byte. */
  def hex(bytes: Array[Byte]): String = lowerHex.formatHex(bytes)
}
