package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The engine-portable md5-window hash family — the ONE definition of the
  * hash the DuckDB oracles replay bit-for-bit. Every oracle-checked
  * ranking/signature (dedup shingles, violation samplers, streaming
  * samples) must route through here so the portability contract cannot
  * silently fork.
  *
  * DuckDB twin: `('0x' || substr(md5('<seed>:' || s), 1+8*w, 8))::BIGINT`. */
object PortableHash {

  /** 32-bit seeded hash: hex window 0 of `md5("<seed>:" || s)`. */
  def md5Window32(s: Column, seed: Int): Column = md5Window32(s, seed, 0)

  /** One md5 yields FOUR independent 32-bit values (hex windows 0..3) —
    * k hashes cost ⌈k/4⌉ md5s; codegen subexpression elimination dedups
    * the digest. */
  def md5Window32(s: Column, group: Int, window: Int): Column =
    conv(substring(md5(concat(lit(s"$group:"), s).cast("binary")), 1 + 8 * window, 8), 16, 10)
      .cast("long")

  // ---- byte-level twin, for native kernels (see MinHashTerms) ----------

  /** The `"<group>:"` prefix bytes of [[md5Window32]]'s input. */
  def groupPrefix(group: Int): Array[Byte] = s"$group:".getBytes(UTF_8)

  /** Digests `prefix ‖ bytes[off, off+len)` into `out` (16 bytes) — the
    * same md5 [[md5Window32]] hex-encodes, with `prefix` from
    * [[groupPrefix]] and `bytes` the UTF-8 of `s`. */
  def md5Digest(md: MessageDigest, prefix: Array[Byte], bytes: Array[Byte], off: Int, len: Int,
      out: Array[Byte]): Unit = {
    md.update(prefix)
    md.update(bytes, off, len)
    md.digest(out, 0, 16)
  }

  /** Hex window `w` of a digest as its unsigned 32-bit value: hex chars
    * 8w..8w+7 are bytes 4w..4w+3, big-endian. */
  def window32(digest: Array[Byte], w: Int): Long = {
    val i = 4 * w
    ((digest(i) & 0xffL) << 24) | ((digest(i + 1) & 0xffL) << 16) |
      ((digest(i + 2) & 0xffL) << 8) | (digest(i + 3) & 0xffL)
  }
}
