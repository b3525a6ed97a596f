package graft.state

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException, File, FileInputStream, FileOutputStream, InputStream}
import java.util.zip.{Deflater, DeflaterOutputStream, InflaterInputStream}

/** Changelog checkpointing: the per-batch delta record stream.
  *
  * The reference uploads a full zip of the RocksDB directory every commit —
  * O(total state) per batch (`RocksDbStateStoreProvider.scala:448-462`),
  * which is the design's scale ceiling: a 1 GB store with 1 MB/batch of
  * updates uploads 1 GB per micro-batch. Changelog mode uploads only the
  * batch's writes (`state.delta.<v>`), with a full snapshot every
  * `minDeltasForSnapshot` versions to bound recovery replay — the same
  * strategy Spark's built-in RocksDB provider adopted for the same reason.
  *
  * Record format (after deflate): repeated
  * `[op: 1 byte (0=put, 1=remove)] [cfLen: 2B BE][cf UTF-8]
  *  [keyLen: 4B BE][key] {putOnly: [valLen: 4B BE][value]}`.
  * Replay is byte-level — no key/value codecs involved — so it is
  * insensitive to encoder specs and column family types.
  */
object Changelog {
  final val OpPut: Int = 0
  final val OpRemove: Int = 1

  /** Uncompressed v2 lineage header magic ("GFV2"). Under checkpoint-format
    * v2 each delta file starts with `[magic: 4B][baseCkptId: UTF]` — the
    * unique ID of the commit this delta was built on ("" for a version-1
    * delta) — so recovery of `(v, id)` can walk the exact ancestor chain
    * back to a full snapshot without trusting version numbers alone. */
  final val V2Magic: Int = 0x47465632

  /** `lineage = Some(baseCkptId)` writes the v2 header; `None` is the v1
    * format (record stream only). */
  final class Writer(val file: File, lineage: Option[String] = None) {
    private val raw = new FileOutputStream(file)
    lineage.foreach { base =>
      val h = new DataOutputStream(raw)
      h.writeInt(V2Magic)
      h.writeUTF(base)
      h.flush()
    }
    // DeflaterOutputStream.close() ends only a deflater it created itself;
    // this one is ended below, or its native zlib state (about 256 KB)
    // waits for the GC's Cleaner.
    private[state] val deflater = new Deflater(Deflater.BEST_SPEED)
    private val out = new DataOutputStream(new BufferedOutputStream(
      new DeflaterOutputStream(raw, deflater), 64 * 1024))
    private var count = 0L

    private def writeCommon(op: Int, cf: String, key: Array[Byte]): Unit = {
      out.writeByte(op)
      val cfBytes = cf.getBytes("UTF-8")
      out.writeShort(cfBytes.length)
      out.write(cfBytes)
      out.writeInt(key.length)
      out.write(key)
      count += 1
    }

    def put(cf: String, key: Array[Byte], value: Array[Byte]): Unit = {
      writeCommon(OpPut, cf, key)
      out.writeInt(value.length)
      out.write(value)
    }

    def remove(cf: String, key: Array[Byte]): Unit = writeCommon(OpRemove, cf, key)

    def records: Long = count

    def close(): Unit = try out.close() finally deflater.end()

    def abortAndDelete(): Unit = {
      try close() catch { case _: Exception => }
      file.delete()
    }
  }

  final case class Record(op: Int, cf: String, key: Array[Byte], value: Array[Byte])

  /** Iterate the records of a delta stream; closes `in` at EOF. */
  def read(in: InputStream): Iterator[Record] = {
    val data = new DataInputStream(new BufferedInputStream(new InflaterInputStream(in), 64 * 1024))
    new Iterator[Record] {
      private var nextRec: Record = _
      private var done = false
      private var recCount = 0L
      private def advance(): Unit = {
        if (done) return
        // EOF at a record BOUNDARY is the legitimate end of the stream; EOF
        // inside a record — or a DEFLATE stream cut short ("Unexpected end
        // of ZLIB input stream", the only message-bearing EOFException on
        // this path; DataInputStream's clean EOF carries none) — is a
        // truncated/corrupt changelog and must be LOUD (replaying a
        // half-applied batch as if complete silently loses state) — the
        // distinction StateFsck's chain soundness check pins.
        val op =
          try data.readUnsignedByte()
          catch {
            case e: EOFException if e.getMessage == null =>
              done = true; data.close(); return
            case e: EOFException =>
              done = true
              data.close()
              throw new java.io.IOException(
                s"changelog truncated (after $recCount complete records)", e)
          }
        try {
          val cfBytes = new Array[Byte](data.readUnsignedShort())
          data.readFully(cfBytes)
          val key = new Array[Byte](data.readInt())
          data.readFully(key)
          val value = if (op == OpPut) {
            val v = new Array[Byte](data.readInt()); data.readFully(v); v
          } else null
          nextRec = Record(op, new String(cfBytes, "UTF-8"), key, value)
          recCount += 1
        } catch {
          case e: EOFException =>
            done = true
            data.close()
            throw new java.io.IOException(
              s"changelog truncated mid-record (after $recCount complete records)", e)
        }
      }
      advance()
      override def hasNext: Boolean = !done
      override def next(): Record = { val r = nextRec; advance(); r }
    }
  }

  def readFile(f: File): Iterator[Record] = read(new FileInputStream(f))

  /** Consume the v2 lineage header from `in` (positioning it at the deflate
    * stream) and return the base commit ID ("" = version-1 delta, no base). */
  def readHeader(in: InputStream): String = {
    val d = new DataInputStream(in)
    val magic = d.readInt()
    if (magic != V2Magic) {
      throw new java.io.IOException(
        f"Not a v2 changelog: expected magic 0x$V2Magic%08x, found 0x$magic%08x")
    }
    d.readUTF()
  }

  /** Read just the lineage header of a delta stream, closing it. */
  def readHeaderOnly(in: InputStream): String =
    try readHeader(in) finally in.close()
}
