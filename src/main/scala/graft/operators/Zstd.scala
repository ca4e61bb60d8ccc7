package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import scala.util.control.NonFatal

import com.github.luben.zstd.{ZstdInputStreamNoFinalizer, Zstd => LibZstd}
import net.jpountz.xxhash.XXHashFactory

/** Zstandard (RFC 8878) member decoding for the archive tier: modern
  * corpus releases ship `.jsonl.zst` members the JDK has no decoder
  * for. The frame payloads decode through libzstd (zstd-jni, already on
  * Spark's classpath for its own zstd Parquet/ORC and shuffle codecs);
  * this object owns the frame walk, the frame counts and the accept set:
  *   - standard and skippable frames, concatenated; empty input, legacy
  *     frame magics and trailing bytes that are not a whole frame reject;
  *   - no dictionaries (a frame that names one rejects);
  *   - window up to 1 GiB (libzstd's own default stops at 128 MiB);
  *   - output capped by `maxOut`: the read stops as soon as it would
  *     pass the cap, so a decompression bomb is a None, not an OOM;
  *   - content checksums verified.
  *
  * Every failure is a None, never an exception: the never-hang/
  * never-throw ingest contract (FuzzTotalitySpec). ZstdSpec pins the
  * decoded bytes of real-compressor frames ([[ZstdVectors]]) and the
  * reject matrix.
  */
object Zstd {

  private val MagicFrame = 0xFD2FB528L
  private val MagicSkippable = 0x184D2A50L
  /** log2 of the largest window accepted: 1 GiB. */
  private val WindowLogMax = 30

  private def le32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

  /** Decompress every frame in `b`. Returns (nFrames, nSkippable,
    * content) or None on anything outside the scope above or any
    * corruption (including a failed content checksum).
    */
  def decompress(b: Array[Byte],
      maxOut: Int = 64 << 20): Option[(Long, Long, Array[Byte])] =
    try {
      val out = new ByteArrayOutputStream()
      var p = 0
      var frames = 0L
      var skippables = 0L
      while (p < b.length) {
        // a whole frame's length; a bad or cut frame throws ZstdException.
        // The range check keeps the walk advancing whatever the library says.
        val n = LibZstd.findFrameCompressedSize(b, p, b.length - p)
        if (n < 4 || n > b.length - p) return None
        val magic = le32(b, p)
        if ((magic & 0xFFFFFFF0L) == MagicSkippable) skippables += 1
        else if (magic == MagicFrame && !windowTooLarge(b, p) &&
            decodeFrame(b, p, n.toInt, out, maxOut))
          frames += 1
        else return None
        p += n.toInt
      }
      if (frames == 0 && skippables == 0) None
      else Some((frames, skippables, out.toByteArray))
    } catch { case NonFatal(_) => None } // ZstdException, ZstdIOException

  /** Whether the Window_Descriptor of the frame at `p` (RFC 8878
    * 3.1.1.1.2) passes 1 GiB. libzstd checks the window only when it
    * decodes through its window buffer; a frame whose content fits the
    * caller's read buffer decodes in one pass without that check.
    * Single-segment frames have no descriptor: their window is their
    * content size, which the streaming check covers.
    */
  private def windowTooLarge(b: Array[Byte], p: Int): Boolean =
    (b(p + 4) & 0x20) == 0 && {
      val wd = b(p + 5) & 0xff
      val base = 1L << (10 + (wd >> 3))
      base + base / 8 * (wd & 7) > (1L << WindowLogMax)
    }

  /** Append the one frame at `b(off until off + len)` to `out`; false
    * once the total would pass `maxOut`. */
  private def decodeFrame(b: Array[Byte], off: Int, len: Int,
      out: ByteArrayOutputStream, maxOut: Int): Boolean = {
    val in = new ZstdInputStreamNoFinalizer(new ByteArrayInputStream(b, off, len))
    try {
      in.setLongMax(WindowLogMax)
      val buf = new Array[Byte](64 << 10)
      var n = in.read(buf)
      while (n >= 0) {
        if (out.size() + n > maxOut) return false
        out.write(buf, 0, n)
        n = in.read(buf)
      }
      true
    } finally in.close()
  }

  /** XXH64 of `b`; a frame checksum is its low 32 bits. */
  def xxh64(b: Array[Byte], seed: Long = 0L): Long =
    XXHashFactory.safeInstance().hash64().hash(b, 0, b.length, seed)

  // Fixture-side frame builders: the trivial block types only (the
  // compressed paths are pinned by the real-compressor ZstdVectors).

  private def le(out: ByteArrayOutputStream, v: Long, n: Int): Unit =
    (0 until n).foreach(i => out.write(((v >> (8 * i)) & 0xff).toInt))

  /** Single-segment frame of raw blocks, 4-byte FCS, with checksum. */
  def rawFrame(content: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    le(out, MagicFrame, 4)
    out.write(0xA4) // fcsFlag=2 (4B), single_segment=1, checksum=1
    le(out, content.length.toLong, 4)
    var off = 0
    val maxBlock = 1 << 16
    do {
      val n = math.min(maxBlock, content.length - off)
      val last = if (off + n >= content.length) 1 else 0
      le(out, (last | (0 << 1) | (n << 3)).toLong, 3)
      out.write(content, off, n)
      off += n
    } while (off < content.length)
    le(out, xxh64(content) & 0xFFFFFFFFL, 4)
    out.toByteArray
  }

  /** Single-segment frame with one RLE block, with checksum. */
  def rleFrame(v: Byte, count: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    le(out, MagicFrame, 4)
    out.write(0xA4)
    le(out, count.toLong, 4)
    le(out, (1L | (1 << 1) | (count.toLong << 3)), 3)
    out.write(v)
    le(out, xxh64(Array.fill(count)(v)) & 0xFFFFFFFFL, 4)
    out.toByteArray
  }

  /** Skippable frame wrapping an opaque payload. */
  def skippableFrame(payload: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    le(out, MagicSkippable, 4)
    le(out, payload.length.toLong, 4)
    out.write(payload, 0, payload.length)
    out.toByteArray
  }
}
