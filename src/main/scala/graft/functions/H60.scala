package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The repo-wide engine-portable 60-bit fingerprint: the first 15 hex
  * chars of an md5 digest parsed base-16 — equivalently the first 8
  * digest bytes big-endian, logical-shifted right one nibble. DuckDB
  * states the identical value with
  * `CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)` /
  * `conv(substr(md5_hex, 1, 15), 16, 10)`. ONE definition so every
  * kernel that fingerprints ([[SubstrHashes]] windows, [[SimHashBits]]
  * tokens, [[WordShingleHashes]] shingles, [[MinHashSig]] strings)
  * provably shares the discipline — two hand-rolled bit spellings would
  * have to be proven equivalent separately and fixed in two places.
  *
  * An instance digests byte slices in place into one reused 16-byte
  * buffer. It is not thread-safe: generated code keeps one per instance
  * ([[H60.state]]), and an interpreted expression keeps one per copy
  * (`stateful`, so each projection gets its own).
  */
final class H60 {
  private val md = MessageDigest.getInstance("MD5")
  private val digest = new Array[Byte](16)

  /** The fingerprint of `len` bytes of `bytes` from `off`. */
  def of(bytes: Array[Byte], off: Int, len: Int): Long = {
    md.update(bytes, off, len)
    md.digest(digest, 0, 16)
    H60.ofDigest(digest)
  }

  /** The fingerprint of `s`'s UTF-8 bytes, read in place when on the heap. */
  def of(s: UTF8String): Long = {
    val (bytes, off) = H60.bytesOf(s)
    of(bytes, off, s.numBytes)
  }
}

object H60 {
  def ofDigest(d: Array[Byte]): Long = {
    var be = 0L
    var i = 0
    while (i < 8) { be = (be << 8) | (d(i) & 0xffL); i += 1 }
    be >>> 4
  }

  /** `s`'s UTF-8 bytes and the index of the first: the string's own array
    * when it lives on the heap, else a copy. */
  def bytesOf(s: UTF8String): (Array[Byte], Int) = s.getBaseObject match {
    case a: Array[Byte] => (a, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt)
    case _ => (s.getBytes, 0)
  }

  /** A field of the generated class holding its own instance. */
  def state(ctx: CodegenContext): String =
    ctx.addMutableState(classOf[H60].getName, "h60", v => s"$v = new ${classOf[H60].getName}();")
}
