package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video payloads ride through
  * the engine as opaque `BinaryType` columns with typed metadata, and
  * decode / feature-extraction runs as a partition-mapped stage over the
  * binary batches (SURVEY.md §2C; the binary-blob analog in the
  * reference is Redis binary mode, `/root/reference/src/processor.ts:69`).
  *
  * Two tiers of "decode" live here. Container-header METADATA extraction
  * ([[parseHeader]]/[[parseAll]]) is REAL: PNG IHDR, JPEG SOFn and
  * RIFF/WAVE chunks are parsed per their public specs, giving
  * dimensions / duration / validity without touching pixel or sample
  * data — the metadata tier a curation pipeline runs corpus-wide. Full
  * pixel/sample DECODE is not part of this engine (the image/audio
  * libraries are not in this container), so [[decodeStub]] remains a
  * clearly-marked deterministic fake; everything around it — the schema
  * contract, the per-partition batch shape, the narrow (shuffle-free)
  * execution, the typed output — is the real plumbing a production
  * decode UDF would drop into.
  *
  * Scale notes: `mapPartitions` keeps the decode narrow — one pass per
  * input split, no shuffle, codegen stages on either side. Payload
  * columns should be pruned early (`select` before decode) so the scan
  * only materializes the binary column when the decode stage actually
  * runs.
  */
object Multimodal {

  /** Typed metadata extracted per payload — the production schema would
    * carry width/height/duration etc. from the real codec.
    */
  final case class MediaMeta(
      docId: Long,
      nBytes: Int,
      // Fake "decoded" fields, deterministic in the payload bytes:
      fakeWidth: Int,
      fakeHeight: Int,
      checksum: Long)

  /** Deterministic stand-in for a media decoder: derives pseudo
    * dimensions and a checksum from the bytes alone. A real deployment
    * replaces ONLY this function (same signature) with e.g. a JNI/FFI
    * image decode.
    */
  def decodeStub(payload: Array[Byte]): (Int, Int, Long) = {
    var h = 1125899906842597L // FNV-ish rolling checksum
    var i = 0
    while (i < payload.length) { h = 31 * h + (payload(i) & 0xff); i += 1 }
    val w = 64 + math.floorMod(h, 1024).toInt
    val ht = 64 + math.floorMod(h >> 10, 1024).toInt
    (w, ht, h)
  }

  /** Decode/featurize a DataFrame bearing (`doc_id`, `payload: binary`)
    * into typed [[MediaMeta]] — partition-mapped, no shuffle.
    */
  def decodeAll(df: DataFrame): Dataset[MediaMeta] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val (w, h, c) = decodeStub(bytes)
          MediaMeta(id, bytes.length, w, h, c)
        }
      }
  }

  /** Attach a binary payload column derived from text (the fixture has
    * no real media bytes; production reads them from Parquet directly).
    */
  def withPayload(documents: DataFrame): DataFrame =
    documents.withColumn("payload", encode(col("text"), "UTF-8"))

  /** REAL thumbnail featurizer: when the payload decodes as an image
    * with full pixels (the PNG tier — every color type, interlace and
    * filter profile the decoder handles), the feature is a box-filter
    * DOWNSCALE of the actual pixels to a √dim x √dim grayscale grid
    * (Rec. 601 luminance per pixel, cell means, L1-normalized) — the
    * real resize the r19 "stub featurizer" seam asked for. Returns
    * None for payloads without a pixel decode (callers fall back).
    */
  def resizeThumbnail(b: Array[Byte], grid: Int): Option[Array[Float]] =
    pngDecodeRgb(b).flatMap { case (w, h, rgb) =>
      if (w <= 0 || h <= 0) None
      else {
        val acc = new Array[Double](grid * grid)
        val cnt = new Array[Long](grid * grid)
        var y = 0
        while (y < h) {
          val gy = y * grid / h
          var x = 0
          while (x < w) {
            val gx = x * grid / w
            val o = (y * w + x) * 3
            acc(gy * grid + gx) += 0.299 * (rgb(o) & 0xff) +
              0.587 * (rgb(o + 1) & 0xff) + 0.114 * (rgb(o + 2) & 0xff)
            cnt(gy * grid + gx) += 1
            x += 1
          }
          y += 1
        }
        val means = Array.tabulate(grid * grid)(i =>
          if (cnt(i) > 0) acc(i) / cnt(i) else 0.0)
        val total = means.sum
        Some(
          if (total <= 0) new Array[Float](grid * grid)
          else means.map(m => (m / total).toFloat))
      }
    }

  /** Fixed-length feature vector per payload: REAL pixel thumbnails
    * via [[resizeThumbnail]] when `dim` is a perfect square and the
    * payload decodes (PNG tier); otherwise the deterministic
    * byte-bucket histogram fallback (documented placeholder for
    * payloads without pixel structure — text bytes, undecoded
    * containers). Shape contract either way: exactly `dim`
    * L1-normalized floats, the invariant a downstream embedding model
    * needs. Narrow stage, same batch plumbing as [[decodeAll]].
    */
  final case class MediaFeature(docId: Long, feature: Array[Float])

  def featurizeAll(df: DataFrame, dim: Int = 16): Dataset[MediaFeature] = {
    val spark = df.sparkSession
    import spark.implicits._
    val grid = math.sqrt(dim.toDouble).toInt
    val square = grid * grid == dim
    df.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val real =
            if (square) resizeThumbnail(bytes, grid) else None
          val feature = real.getOrElse {
            val hist = new Array[Float](dim)
            var i = 0
            while (i < bytes.length) { hist((bytes(i) & 0xff) % dim) += 1f; i += 1 }
            val total = math.max(bytes.length, 1).toFloat
            var j = 0
            while (j < dim) { hist(j) /= total; j += 1 }
            hist
          }
          MediaFeature(id, feature)
        }
      }
  }

  // ---------------------------------------------------------------------
  // Real public-format header metadata (PNG / JPEG / WAV)
  // ---------------------------------------------------------------------

  /** Header metadata parsed from a real media container: `format` is
    * "png" / "jpeg" / "wav" / "unknown"; images carry width x height,
    * audio carries durationMs; `valid` is false when the bytes match no
    * known signature (or the matched container is truncated/malformed).
    *
    * Unlike [[decodeStub]] (a full-decode stand-in), these are REAL
    * parsers of the public container formats — PNG IHDR (PNG spec
    * §11.2.2), JPEG SOFn frame headers (ITU T.81 §B.2.2), RIFF/WAVE
    * fmt+data chunks — the metadata a curation pipeline extracts without
    * decoding pixels/samples.
    */
  final case class MediaInfo(
      fileId: Long,
      format: String,
      width: Option[Long],
      height: Option[Long],
      durationMs: Option[Long],
      valid: Boolean)

  private def be32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
  private def be16(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
  private def le16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], o: Int): Long =
    ((b(o + 3) & 0xffL) << 24) | ((b(o + 2) & 0xffL) << 16) |
      ((b(o + 1) & 0xffL) << 8) | (b(o) & 0xffL)

  /** Parse the container header: (format, width, height, durationMs,
    * valid). Pure function over the leading bytes — safe to run
    * partition-side over binaryFile batches.
    */
  def parseHeader(b: Array[Byte]): (String, Option[Long], Option[Long], Option[Long], Boolean) = {
    val pngSig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    if (b.length >= 24 && b.startsWith(pngSig)) {
      // First chunk must be IHDR (length 13): width/height are the two
      // big-endian u32s at its head.
      if (b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')
        ("png", Some(be32(b, 16)), Some(be32(b, 20)), None, true)
      else ("png", None, None, None, false)
    } else if (b.length >= 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) {
      // JPEG: walk marker segments to the first SOFn (C0-CF except the
      // non-frame C4/C8/CC); frame header is [len][prec][h:2][w:2].
      var pos = 2
      while (pos + 3 < b.length) {
        if ((b(pos) & 0xff) != 0xff) return ("jpeg", None, None, None, false)
        val m = b(pos + 1) & 0xff
        if (m == 0xd8 || m == 0x01 || (m >= 0xd0 && m <= 0xd7)) pos += 2
        else if (m == 0xd9) return ("jpeg", None, None, None, false) // EOI before SOF
        else {
          val segLen = be16(b, pos + 2)
          if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc) {
            if (pos + 8 >= b.length) return ("jpeg", None, None, None, false)
            return ("jpeg", Some(be16(b, pos + 7).toLong),
              Some(be16(b, pos + 5).toLong), None, true)
          }
          pos += 2 + segLen
        }
      }
      ("jpeg", None, None, None, false)
    } else if (b.length >= 44 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == 'F' && b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E') {
      // RIFF/WAVE: find fmt (byteRate) and data (payload size); duration
      // is dataBytes / byteRate. Chunks are word-aligned (odd sizes pad).
      var pos = 12
      var byteRate = 0L
      var dataBytes = -1L
      while (pos + 8 <= b.length && (byteRate == 0L || dataBytes < 0L)) {
        val id = new String(b, pos, 4, java.nio.charset.StandardCharsets.US_ASCII)
        val size = le32(b, pos + 4)
        if (id == "fmt " && pos + 20 <= b.length) byteRate = le32(b, pos + 16)
        else if (id == "data") dataBytes = size
        // A crafted/corrupt chunk size must not drive the advance
        // nonpositive (infinite loop) or overflow: stop the walk.
        if (size < 0L || pos.toLong + 8L + size > b.length.toLong) pos = b.length
        else pos += 8 + size.toInt + (size.toInt & 1)
      }
      if (byteRate > 0L && dataBytes >= 0L)
        ("wav", None, None, Some(dataBytes * 1000L / byteRate), true)
      else ("wav", None, None, None, false)
    } else ("unknown", None, None, None, false)
  }

  /** Partition-mapped header parse over a (`file_id`, `content: binary`)
    * frame — the binaryFile-scan shape. Narrow (no shuffle); the scan
    * should prune to exactly these two columns.
    */
  def parseAll(df: DataFrame): Dataset[MediaInfo] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("file_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val (fmt, w, h, d, ok) = parseHeader(bytes)
          MediaInfo(id, fmt, w, h, d, ok)
        }
      }
  }

  // ---------------------------------------------------------------------
  // Real sample-level PCM statistics (the tier above header parsing)
  // ---------------------------------------------------------------------

  /** Sample-level statistics of a 16-bit mono PCM WAV payload: sample
    * count, exact amplitude sum and sum of squares (bigints — RMS and DC
    * offset derive from them without float accumulation), peak absolute
    * amplitude, and zero-crossing count (sign changes between adjacent
    * samples; zero samples keep the previous sign). This is the real
    * audio-curation signal layer — silence/clipping detection, energy
    * gating — computed by actually decoding the data chunk, not a stub.
    */
  final case class PcmStats(
      fileId: Long, nSamples: Long, sumAmp: Long, sumSq: Long,
      peakAbs: Long, crossings: Long, valid: Boolean)

  /** Decode the RIFF/WAVE data chunk as LE int16 mono and fold the
    * stats in one pass. None when the container is not 16-bit mono PCM
    * (or is truncated). Pure function — partition-side safe.
    */
  def pcmStats(b: Array[Byte]): Option[(Long, Long, Long, Long, Long)] = {
    if (b.length < 44 || b(0) != 'R' || b(1) != 'I' || b(2) != 'F' ||
        b(3) != 'F' || b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E')
      return None
    var pos = 12
    var ok16Mono = false
    var dataOff = -1
    var dataLen = -1
    while (pos + 8 <= b.length && (!ok16Mono || dataOff < 0)) {
      val id = new String(b, pos, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val size = le32(b, pos + 4).toInt
      if (id == "fmt " && pos + 24 <= b.length) {
        val fmt = (b(pos + 8) & 0xff) | ((b(pos + 9) & 0xff) << 8)
        val ch = (b(pos + 10) & 0xff) | ((b(pos + 11) & 0xff) << 8)
        val bits = (b(pos + 22) & 0xff) | ((b(pos + 23) & 0xff) << 8)
        ok16Mono = fmt == 1 && ch == 1 && bits == 16
      } else if (id == "data") { dataOff = pos + 8; dataLen = size }
      // Long arithmetic: a crafted size in [2^31-b.length, 2^31) would wrap
      // pos+8+size negative in Int and sail past the bound check
      if (size < 0 || pos.toLong + 8L + size.toLong > b.length.toLong) return None
      pos += 8 + size + (size & 1)
    }
    if (!ok16Mono || dataOff < 0 || dataOff + dataLen > b.length) return None
    val n = dataLen / 2
    var i = 0
    var sum = 0L
    var sumSq = 0L
    var peak = 0L
    var crossings = 0L
    var prevSign = 0
    while (i < n) {
      val o = dataOff + 2 * i
      val s = (((b(o + 1) & 0xff) << 8) | (b(o) & 0xff)).toShort.toLong
      sum += s
      sumSq += s * s
      val a = math.abs(s)
      if (a > peak) peak = a
      val sign = if (s > 0) 1 else if (s < 0) -1 else prevSign
      if (prevSign != 0 && sign != prevSign) crossings += 1
      if (sign != 0) prevSign = sign
      i += 1
    }
    Some((n.toLong, sum, sumSq, peak, crossings))
  }

  /** Partition-mapped PCM stats over a (`file_id`, `content`) frame —
    * same narrow no-shuffle shape as [[parseAll]].
    */
  def pcmStatsAll(df: DataFrame): Dataset[PcmStats] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("file_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          pcmStats(bytes) match {
            case Some((n, s, sq, p, c)) => PcmStats(id, n, s, sq, p, c, valid = true)
            case None => PcmStats(id, 0L, 0L, 0L, 0L, 0L, valid = false)
          }
        }
      }
  }

  /** G.711 COMPANDED audio decode — µ-law (WAV format tag 7) and A-law
    * (tag 6), the telephony codecs an 8 kHz voice corpus actually
    * arrives in: each 8-bit code word expands to its 16-bit linear
    * sample through the standard segment/mantissa formulas (the Sun
    * g711.c reference expansion — µ-law: complement, bias-132
    * mantissa, segment shift, signed fold; A-law: 0x55 even-bit
    * inversion, segment 0/1 special cases, sign bit MEANS positive).
    * Returns (law, n_samples, sum_lin, min_lin, max_lin). None unless
    * the container is 8-bit mono with tag 6/7 — reject, never
    * mis-decode.
    */
  final case class G711Stats(fileId: Long, law: Long, nSamples: Long,
      sumLin: Long, minLin: Long, maxLin: Long, valid: Boolean)

  def g711Stats(b: Array[Byte]): Option[(Long, Long, Long, Long, Long)] = {
    if (b.length < 44 || b(0) != 'R' || b(1) != 'I' || b(2) != 'F' ||
        b(3) != 'F' || b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E')
      return None
    var pos = 12
    var law = -1
    var dataOff = -1
    var dataLen = -1
    while (pos + 8 <= b.length && (law < 0 || dataOff < 0)) {
      val id = new String(b, pos, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val size = le32(b, pos + 4).toInt
      if (id == "fmt " && pos + 24 <= b.length) {
        val fmt = (b(pos + 8) & 0xff) | ((b(pos + 9) & 0xff) << 8)
        val ch = (b(pos + 10) & 0xff) | ((b(pos + 11) & 0xff) << 8)
        val bits = (b(pos + 22) & 0xff) | ((b(pos + 23) & 0xff) << 8)
        if ((fmt == 6 || fmt == 7) && ch == 1 && bits == 8) law = fmt
        else return None
      } else if (id == "data") { dataOff = pos + 8; dataLen = size }
      if (size < 0 || pos.toLong + 8L + size.toLong > b.length.toLong) return None
      pos += 8 + size + (size & 1)
    }
    if (law < 0 || dataOff < 0 || dataOff + dataLen > b.length) return None
    var sum = 0L
    var mn = Long.MaxValue
    var mx = Long.MinValue
    var i = 0
    while (i < dataLen) {
      val v = b(dataOff + i) & 0xff
      val lin =
        if (law == 7) { // µ-law
          val u = (~v) & 0xff
          var t = ((u & 0x0f) << 3) + 0x84
          t <<= (u & 0x70) >> 4
          if ((u & 0x80) != 0) 0x84 - t else t - 0x84
        } else { // A-law
          val a = v ^ 0x55
          var t = (a & 0x0f) << 4
          val seg = (a & 0x70) >> 4
          t = seg match {
            case 0 => t + 8
            case 1 => t + 0x108
            case _ => (t + 0x108) << (seg - 1)
          }
          if ((a & 0x80) != 0) t else -t
        }
      sum += lin
      if (lin < mn) mn = lin
      if (lin > mx) mx = lin
      i += 1
    }
    if (dataLen == 0) return None
    Some((law.toLong, dataLen.toLong, sum, mn, mx))
  }

  /** Partition-mapped G.711 stats — the [[parseAll]] narrow shape. */
  def g711StatsAll(df: DataFrame): Dataset[G711Stats] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("file_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          g711Stats(bytes) match {
            case Some((law, n, s, mn, mx)) =>
              G711Stats(id, law, n, s, mn, mx, valid = true)
            case None => G711Stats(id, 0L, 0L, 0L, 0L, 0L, valid = false)
          }
        }
      }
  }

  /** MSB-first LZW decode: the code stream of TIFF strips (tag 259 =
    * 5) and PDF `/LZWDecode` — GIF's LSB-first twin, fixed Clear=256 /
    * EOI=257, dictionary from 258, and the spec's EARLY-CHANGE rule:
    * the code width bumps when the NEXT table slot is 2^width - 1 (one
    * entry earlier than GIF's LSB variant). Returns the decoded bytes,
    * or None on a bad code, bits exhausted before EOI, or output past
    * `maxOut` — reject, never mis-decode. The JDK's own TIFF reader
    * cross-checks the bit-level behavior in PngDecodeSpec (our encoder,
    * its decoder).
    */
  private[graft] def lzwMsbDecodeGrow(b: Array[Byte], off: Int, len: Int,
      maxOut: Int): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(math.max(64, len * 2))
    // dictionary as (prefix chain): entry i>=258 = (prev entry, byte)
    val prevOf = new Array[Int](4096)
    val byteOf = new Array[Byte](4096)
    var next = 258
    var width = 9
    var bitPos = 0L
    val bitEnd = len.toLong * 8
    def readCode(): Int = {
      if (bitPos + width > bitEnd) return -1
      var v = 0
      var i = 0
      while (i < width) {
        val bp = bitPos + i
        val byt = b(off + (bp >> 3).toInt) & 0xff
        v = (v << 1) | ((byt >> (7 - (bp & 7).toInt)) & 1) // MSB-first
        i += 1
      }
      bitPos += width
      v
    }
    val tmp = new Array[Byte](4096)
    def emit(code: Int): Boolean = {
      var n = 0
      var c = code
      while (c >= 258) { tmp(n) = byteOf(c); n += 1; c = prevOf(c) }
      tmp(n) = c.toByte
      n += 1
      if (out.size() + n > maxOut) return false
      var i = n - 1
      while (i >= 0) { out.write(tmp(i)); i -= 1 }
      true
    }
    def firstByte(code: Int): Byte = {
      var c = code
      while (c >= 258) c = prevOf(c)
      c.toByte
    }
    var prev = -1
    var done = false
    while (!done) {
      val code = readCode()
      if (code < 0) return None // ran out of bits before EOI
      if (code == 257) done = true // EOI
      else if (code == 256) { next = 258; width = 9; prev = -1 } // Clear
      else if (prev < 0) { // first code after Clear: must be a literal
        if (code > 255) return None
        if (!emit(code)) return None
        prev = code
      } else {
        if (code > next) return None // beyond the one-ahead KwKwK slot
        if (code == next) { // the KwKwK case: entry defined by itself
          if (next >= 4096) return None
          prevOf(next) = prev; byteOf(next) = firstByte(prev)
          next += 1
          if (!emit(code)) return None
        } else {
          if (next < 4096) { prevOf(next) = prev; byteOf(next) = firstByte(code); next += 1 }
          if (!emit(code)) return None
        }
        prev = code
        // EARLY change: bump when the next slot to assign is 2^width - 1
        if (next == (1 << width) - 1 && width < 12) width += 1
      }
    }
    Some(out.toByteArray)
  }

  /** TIFF LZW encoder (fixture side): MSB-first writer, Clear emitted
    * first and at table-full, early-change width bumps mirroring a
    * SIMULATED decoder counter (the GIF width-sync lesson: the decoder
    * lags one entry — under TIFF's early change the encoder bumps when
    * ITS next slot is 2^width, i.e. one after the decoder's 2^width-1).
    */
  private[graft] def tiffLzwEncode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var cur = 0
    var curBits = 0
    var width = 9
    def put(code: Int): Unit = {
      cur = (cur << width) | code
      curBits += width
      while (curBits >= 8) {
        out.write((cur >> (curBits - 8)) & 0xff)
        curBits -= 8
      }
      cur &= (1 << curBits) - 1
    }
    val table = new java.util.HashMap[Long, Integer]()
    var next = 258
    put(256) // Clear
    var w = -1
    var i = 0
    while (i < data.length) {
      val k = data(i) & 0xff
      if (w < 0) w = k
      else {
        val key = (w.toLong << 8) | k
        val hit = table.get(key)
        if (hit != null) w = hit.intValue()
        else {
          put(w)
          table.put(key, Integer.valueOf(next))
          next += 1
          // encoder-side early change: the decoder adds ITS copy of this
          // entry one code LATER (it lags one entry), so its early-change
          // bump at next == 2^width - 1 lands on the same emitted code as
          // our bump at next == 2^width — one threshold apart, in sync
          if (next == (1 << width) && width < 12) width += 1
          if (next == 4094) { // table nearly full: reset per spec
            put(256)
            table.clear()
            next = 258
            width = 9
          }
          w = k
        }
      }
      i += 1
    }
    if (w >= 0) put(w)
    put(257) // EOI
    if (curBits > 0) out.write((cur << (8 - curBits)) & 0xff)
    out.toByteArray
  }

  /** TIFF baseline decode — the scanner/print-pipeline container:
    * BOTH byte orders ("II" little- and "MM" big-endian — the tag
    * every other container fixes, TIFF makes data), IFD entry walk,
    * STRIP-segmented pixel data (rows split across strips per
    * RowsPerStrip), 8-bit grayscale (photometric 1) or RGB
    * (photometric 2), compression NONE (1) or LZW (5 — each strip an
    * independent MSB-first early-change LZW stream, the dominant wild
    * compression). Decodes to exact channel sums; wrong endianness
    * reads garbage dimensions and rejects, a mis-walked strip order or
    * desynced LZW width corrupts the sums and hash-fails. None for
    * anything else (other compressions, bit depths, palettes, tiles) —
    * reject, never mis-decode.
    */
  def tiffPixelStats(b: Array[Byte]): Option[(Long, Long, Long, Long, Long)] =
    try tiffPixelStatsImpl(b)
    catch { case scala.util.control.NonFatal(_) => None }

  private def tiffPixelStatsImpl(
      b: Array[Byte]): Option[(Long, Long, Long, Long, Long)] = {
    if (b.length < 8) return None
    val le =
      if (b(0) == 'I' && b(1) == 'I') true
      else if (b(0) == 'M' && b(1) == 'M') false
      else return None
    def u16(o: Int): Int =
      if (le) (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
      else ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
    def u32(o: Int): Long =
      if (le) (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
        ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
      else ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
        ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
    if (u16(2) != 42) return None
    val ifd = u32(4).toInt
    if (ifd + 2 > b.length) return None
    val nEntries = u16(ifd)
    if (ifd + 2 + 12 * nEntries + 4 > b.length) return None
    var w = -1L; var h = -1L
    var compression = 1L; var photometric = -1L; var spp = 1L
    var rowsPerStrip = Long.MaxValue
    var bitsOk = true
    var stripOffsets: Array[Long] = null
    var stripCounts: Array[Long] = null
    def readArray(typ: Int, count: Int, at: Int): Array[Long] = {
      // SHORT(3) = 2 bytes, LONG(4) = 4; <=4 payload bytes live inline
      val width = if (typ == 3) 2 else 4
      val base = if (count * width <= 4) at else u32(at).toInt
      Array.tabulate(count)(i =>
        if (typ == 3) u16(base + 2 * i).toLong else u32(base + 4 * i))
    }
    var e = 0
    while (e < nEntries) {
      val off = ifd + 2 + 12 * e
      val tag = u16(off)
      val typ = u16(off + 2)
      val count = u32(off + 4).toInt
      val vat = off + 8
      tag match {
        case 256 => w = readArray(typ, 1, vat)(0)
        case 257 => h = readArray(typ, 1, vat)(0)
        case 258 => bitsOk = readArray(typ, count, vat).forall(_ == 8L)
        case 259 => compression = readArray(typ, 1, vat)(0)
        case 262 => photometric = readArray(typ, 1, vat)(0)
        case 273 => stripOffsets = readArray(typ, count, vat)
        case 277 => spp = readArray(typ, 1, vat)(0)
        case 278 => rowsPerStrip = readArray(typ, 1, vat)(0)
        case 279 => stripCounts = readArray(typ, count, vat)
        case _ => ()
      }
      e += 1
    }
    if (w <= 0 || h <= 0 || (compression != 1 && compression != 5) || !bitsOk)
      return None
    if (!((photometric == 1 && spp == 1) || (photometric == 2 && spp == 3)))
      return None
    if (stripOffsets == null || stripCounts == null ||
      stripOffsets.length != stripCounts.length) return None
    val rps = math.min(rowsPerStrip, h)
    val nStrips = ((h + rps - 1) / rps).toInt
    if (stripOffsets.length != nStrips) return None
    var sumR = 0L; var sumG = 0L; var sumB = 0L
    var strip = 0
    var rowsDone = 0L
    while (strip < nStrips) {
      val rows = math.min(rps, h - rowsDone)
      val expect = rows * w * spp
      val so = stripOffsets(strip)
      val sc = stripCounts(strip)
      if (sc < 0 || so < 0 || so + sc > b.length) return None
      // uncompressed strips must DECLARE exactly their pixel bytes; LZW
      // strips are independent streams whose DECODED length must match
      val data: Array[Byte] =
        if (compression == 1) {
          if (sc != expect) return None
          null // summed in place below
        } else {
          lzwMsbDecodeGrow(b, so.toInt, sc.toInt, expect.toInt)
              .filter(_.length == expect) match {
            case Some(d) => d
            case None => return None
          }
        }
      var i = 0L
      while (i < expect) {
        val v = (if (data == null) b((so + i).toInt) else data(i.toInt)) & 0xff
        if (spp == 1) { sumR += v; sumG += v; sumB += v }
        else (i % 3) match {
          case 0 => sumR += v
          case 1 => sumG += v
          case _ => sumB += v
        }
        i += 1
      }
      rowsDone += rows
      strip += 1
    }
    Some((w, h, sumR, sumG, sumB))
  }

  /** TIFF fixture carrying the shared gradient (RGB, photometric 2) or
    * the gray pattern (3x+7y mod 256, photometric 1), in EITHER byte
    * order, strip-segmented at `rowsPerStrip` — the endianness and
    * strip-walk axes under test. */
  def tiffGradientBytes(width: Int, height: Int, bigEndian: Boolean,
      gray: Boolean, rowsPerStrip: Int): Array[Byte] =
    tiffGradientBytes(width, height, bigEndian, gray, rowsPerStrip, lzw = false)

  /** [[tiffGradientBytes]] with the compression axis: `lzw = true`
    * writes compression tag 5 with each strip an INDEPENDENT
    * [[tiffLzwEncode]] stream (StripByteCounts then hold compressed
    * lengths — the layout wild LZW TIFFs really use). */
  def tiffGradientBytes(width: Int, height: Int, bigEndian: Boolean,
      gray: Boolean, rowsPerStrip: Int, lzw: Boolean): Array[Byte] = {
    val spp = if (gray) 1 else 3
    val rps = math.min(rowsPerStrip, height)
    val nStrips = (height + rps - 1) / rps
    val out = new java.io.ByteArrayOutputStream()
    def p8(v: Int): Unit = out.write(v & 0xff)
    def p16(v: Int): Unit =
      if (bigEndian) { p8(v >> 8); p8(v) } else { p8(v); p8(v >> 8) }
    def p32(v: Long): Unit =
      if (bigEndian) { p8((v >> 24).toInt); p8((v >> 16).toInt); p8((v >> 8).toInt); p8(v.toInt) }
      else { p8(v.toInt); p8((v >> 8).toInt); p8((v >> 16).toInt); p8((v >> 24).toInt) }
    // header; pixel strips start at 8, IFD after them
    if (bigEndian) { p8('M'); p8('M') } else { p8('I'); p8('I') }
    p16(42)
    val stripStart = 8L
    // per-strip payloads: raw pixel rows, LZW-compressed when asked
    val stripData: Array[Array[Byte]] = Array.tabulate(nStrips) { s =>
      val y0 = s * rps
      val rows = math.min(rps, height - y0)
      val raw = new Array[Byte](rows * width * spp)
      var i = 0
      var y = y0
      while (y < y0 + rows) {
        var x = 0
        while (x < width) {
          if (gray) { raw(i) = ((3 * x + 7 * y) % 256).toByte; i += 1 }
          else {
            raw(i) = ((7 * x + 3 * y) % 256).toByte
            raw(i + 1) = ((x + 2 * y) % 256).toByte
            raw(i + 2) = ((5 * x + y) % 256).toByte
            i += 3
          }
          x += 1
        }
        y += 1
      }
      if (lzw) tiffLzwEncode(raw) else raw
    }
    val stripLens = stripData.map(_.length.toLong)
    val ifdAt = stripStart + stripLens.sum
    p32(ifdAt)
    stripData.foreach(out.write)
    // IFD: 10 entries; arrays (bits for RGB, strip tables) follow it
    val entries = 10
    val arraysAt = ifdAt + 2 + 12 * entries + 4
    var cursor = arraysAt
    val bitsAt = { val a = cursor; if (spp == 3) cursor += 6; a }
    val offsAt = { val a = cursor; if (nStrips > 1) cursor += 4 * nStrips; a }
    val cntsAt = { val a = cursor; if (nStrips > 1) cursor += 4 * nStrips; a }
    p16(entries)
    def entry(tag: Int, typ: Int, count: Int, inline: => Unit): Unit = {
      p16(tag); p16(typ); p32(count.toLong); inline
    }
    def inline32(v: Long): Unit = p32(v)
    def inline16(v: Int): Unit = { p16(v); p16(0) }
    entry(256, 4, 1, inline32(width.toLong)) // ImageWidth
    entry(257, 4, 1, inline32(height.toLong)) // ImageLength
    if (spp == 3) entry(258, 3, 3, inline32(bitsAt)) // BitsPerSample -> array
    else entry(258, 3, 1, inline16(8))
    entry(259, 3, 1, inline16(if (lzw) 5 else 1)) // Compression: none / LZW
    entry(262, 3, 1, inline16(if (gray) 1 else 2)) // Photometric
    if (nStrips > 1) entry(273, 4, nStrips, inline32(offsAt))
    else entry(273, 4, 1, inline32(stripStart))
    entry(277, 3, 1, inline16(spp)) // SamplesPerPixel
    entry(278, 4, 1, inline32(rps.toLong)) // RowsPerStrip
    if (nStrips > 1) entry(279, 4, nStrips, inline32(cntsAt))
    else entry(279, 4, 1, inline32(stripLens(0)))
    entry(284, 3, 1, inline16(1)) // PlanarConfig: chunky
    p32(0) // next IFD
    if (spp == 3) { p16(8); p16(8); p16(8) }
    if (nStrips > 1) {
      var acc = stripStart
      stripLens.foreach { l => p32(acc); acc += l }
      stripLens.foreach(l => p32(l))
    }
    out.toByteArray
  }

  /** ZIP archive census — the container a delivered corpus actually
    * arrives in: entries walked with `java.util.zip.ZipInputStream`
    * (REAL inflate of each entry's payload — the CRC check in the
    * stream layer fails loudly on corruption), folding entry count,
    * total uncompressed bytes, and a payload checksum (sum of byte
    * values across all entries — order-invariant within an entry
    * stream, entry order fixed by the archive). The streamed entry
    * count is VERIFIED against the end-of-central-directory record's
    * declared total — a streaming reader alone would silently return a
    * PARTIAL census for an archive truncated at an entry boundary
    * (local headers parse fine; only the central directory knows how
    * many entries there were). None on any malformed entry or an
    * absent/mismatched EOCD — whole-archive reject, never a partial
    * count.
    */
  def zipCensus(b: Array[Byte]): Option[(Long, Long, Long)] =
    try {
      val zin = new java.util.zip.ZipInputStream(
        new java.io.ByteArrayInputStream(b))
      var n = 0L
      var bytes = 0L
      var sum = 0L
      var e = zin.getNextEntry
      if (e == null) return None // not a zip (or empty)
      while (e != null) {
        val buf = new Array[Byte](8192)
        var r = zin.read(buf)
        while (r > 0) {
          var i = 0
          while (i < r) { sum += buf(i) & 0xff; i += 1 }
          bytes += r
          r = zin.read(buf)
        }
        n += 1
        zin.closeEntry()
        e = zin.getNextEntry
      }
      zin.close()
      // EOCD: scan backwards for PK\5\6 (the comment field can push it
      // up to 65535 bytes from the end); declared total entries at +10
      var eocd = -1
      var p = b.length - 22
      val lo = math.max(0, b.length - 22 - 65535)
      while (eocd < 0 && p >= lo) {
        if ((b(p) & 0xff) == 0x50 && (b(p + 1) & 0xff) == 0x4b &&
          (b(p + 2) & 0xff) == 0x05 && (b(p + 3) & 0xff) == 0x06) eocd = p
        p -= 1
      }
      if (eocd < 0) return None
      val declared16 = (b(eocd + 10) & 0xff) | ((b(eocd + 11) & 0xff) << 8)
      // 0xFFFF is the ZIP64 sentinel: the real count lives in the ZIP64
      // EOCD record (PK\6\6, 8-byte total-entries at +32) that precedes
      // the locator + EOCD — without this, any >= 65535-entry archive
      // (plausible at crawl scale) would be rejected wholesale
      val declared: Long =
        if (declared16 != 0xffff) declared16.toLong
        else {
          var z64 = -1
          var q = eocd - 56 // ZIP64 EOCD record is >= 56 bytes
          while (z64 < 0 && q >= 0) {
            if ((b(q) & 0xff) == 0x50 && (b(q + 1) & 0xff) == 0x4b &&
              (b(q + 2) & 0xff) == 0x06 && (b(q + 3) & 0xff) == 0x06) z64 = q
            q -= 1
          }
          if (z64 < 0 || z64 + 40 > b.length) return None
          var v = 0L
          var k = 7
          while (k >= 0) { v = (v << 8) | (b(z64 + 32 + k) & 0xff); k -= 1 }
          v
        }
      if (declared != n) return None
      Some((n, bytes, sum))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** TAR archive census — the other delivery container: 512-byte
    * header blocks parsed directly (name, octal size, typeflag,
    * checksum VERIFIED per the ustar rule: header bytes summed with
    * the checksum field read as spaces), payloads walked to the
    * 512-padded boundary. Returns (n_entries, total_bytes,
    * payload byte sum). None on a bad magic/checksum or truncation —
    * whole-archive reject.
    */
  def tarCensus(b: Array[Byte]): Option[(Long, Long, Long)] =
    try tarCensusImpl(b)
    catch { case scala.util.control.NonFatal(_) => None }

  private def tarCensusImpl(b: Array[Byte]): Option[(Long, Long, Long)] = {
    var pos = 0
    var n = 0L
    var total = 0L
    var sum = 0L
    while (pos + 512 <= b.length) {
      // two all-zero blocks mark end-of-archive
      if ((pos until pos + 512).forall(b(_) == 0)) {
        return if (n > 0) Some((n, total, sum)) else None
      }
      // ustar magic at offset 257
      if (pos + 262 > b.length ||
        !(b(pos + 257) == 'u' && b(pos + 258) == 's' && b(pos + 259) == 't' &&
          b(pos + 260) == 'a' && b(pos + 261) == 'r')) return None
      // verify the header checksum: bytes summed with the checksum
      // field (148..155) read as spaces
      var hsum = 0L
      var i = 0
      while (i < 512) {
        hsum += (if (i >= 148 && i < 156) ' '.toInt else b(pos + i) & 0xff)
        i += 1
      }
      val declared = java.lang.Long.parseLong(
        new String(b, pos + 148, 8, java.nio.charset.StandardCharsets.US_ASCII)
          .trim, 8)
      // parseLong(radix 8) accepts a leading '-', and the checksum is
      // attacker-chosen — a negative size would net zero loop progress
      // (pos += 512 then += -512): reject both fields explicitly
      if (declared < 0 || hsum != declared) return None
      val size = java.lang.Long.parseLong(
        new String(b, pos + 124, 12, java.nio.charset.StandardCharsets.US_ASCII)
          .trim, 8)
      if (size < 0) return None
      pos += 512
      if (pos + size > b.length) return None
      var j = 0L
      while (j < size) { sum += b(pos + j.toInt) & 0xff; j += 1 }
      total += size
      n += 1
      pos += ((size + 511) / 512).toInt * 512
    }
    None // ran off the end without the terminator
  }

  /** WARC (multi-member gzip) census — the container crawl corpora
    * actually arrive in (Common Crawl ships exactly this: one gzip
    * MEMBER per WARC record, members concatenated): the gzip member
    * chain is walked RAW (header grammar incl. FEXTRA/FNAME/FCOMMENT/
    * FHCRC fields, raw-deflate body, then the member trailer's CRC32
    * AND ISIZE both VERIFIED against the inflated bytes — the ustar
    * checksum precedent), and the concatenated payload is then framed
    * as WARC records per the spec grammar: `WARC/1.x` version line,
    * CRLF header block carrying WARC-Type and a mandatory
    * Content-Length, the exact-length payload, and the two-CRLF record
    * terminator. Returns (n_members, n_records, n_response,
    * payload_bytes, payload_sum). None on ANY malformation — bad
    * member magic, CRC/ISIZE mismatch, truncated member, bad version
    * line, missing/negative Content-Length, missing terminator,
    * trailing garbage — whole-archive reject, never a partial census.
    *
    * The inflate accumulates through a fixed 8 KiB scratch chunk
    * (the textCompressibility contract — no unbounded single inflate
    * call); at cluster scale the same walk runs as a streaming frame
    * over file splits, which gzip members make possible in the first
    * place (members are the split points).
    */
  def warcCensus(b: Array[Byte]): Option[(Long, Long, Long, Long, Long)] =
    try warcCensusImpl(b)
    catch { case scala.util.control.NonFatal(_) => None }

  /** The raw multi-member gzip walk shared by [[warcCensus]] and
    * [[warcHttpStats]]: every member's header fields parsed, body
    * inflated through a fixed scratch chunk, trailer CRC32 AND ISIZE
    * verified. Returns (member count, concatenated payload) or None on
    * any malformed/truncated member or trailing garbage. */
  private def gunzipMembers(b: Array[Byte]): Option[(Long, Array[Byte])] = {
    val out = new java.io.ByteArrayOutputStream()
    var pos = 0
    var nMembers = 0L
    while (pos < b.length) {
      if (pos + 10 > b.length ||
        (b(pos) & 0xff) != 0x1f || (b(pos + 1) & 0xff) != 0x8b ||
        (b(pos + 2) & 0xff) != 8) return None // magic + CM=deflate
      val flg = b(pos + 3) & 0xff
      if ((flg & 0xe0) != 0) return None // reserved flag bits must be 0
      var p = pos + 10
      if ((flg & 4) != 0) { // FEXTRA: le16 length + payload
        if (p + 2 > b.length) return None
        val xlen = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
        p += 2 + xlen
      }
      if ((flg & 8) != 0) { // FNAME: NUL-terminated
        while (p < b.length && b(p) != 0) p += 1
        p += 1
      }
      if ((flg & 16) != 0) { // FCOMMENT: NUL-terminated
        while (p < b.length && b(p) != 0) p += 1
        p += 1
      }
      if ((flg & 2) != 0) p += 2 // FHCRC
      if (p >= b.length) return None
      val inf = new java.util.zip.Inflater(true)
      val crc = new java.util.zip.CRC32()
      var isize = 0L
      try {
        inf.setInput(b, p, b.length - p)
        val chunk = new Array[Byte](8192)
        while (!inf.finished()) {
          val got = inf.inflate(chunk)
          if (got == 0 && inf.needsInput()) return None // truncated member
          crc.update(chunk, 0, got)
          isize += got
          out.write(chunk, 0, got)
        }
        val end = p + inf.getBytesRead.toInt
        if (end + 8 > b.length) return None // trailer truncated
        if (le32(b, end) != crc.getValue) return None
        if (le32(b, end + 4) != (isize & 0xffffffffL)) return None
        pos = end + 8
      } finally inf.end()
      nMembers += 1
    }
    if (nMembers == 0) return None
    Some((nMembers, out.toByteArray))
  }

  /** WARC record framing over a decompressed member stream — the
    * grammar walk shared by the census and the HTTP extraction tier:
    * version line, CRLF header block (WARC-Type + mandatory
    * Content-Length captured), exact-length payload, two-CRLF
    * terminator. Returns (type, payloadOff, payloadLen) per record in
    * stream order, or None on any malformation. */
  private def warcRecordSpans(w: Array[Byte]): Option[Vector[(String, Int, Int)]] = {
    def lineEnd(from: Int): Int = { // index of the CR of the next CRLF
      var i = from
      while (i + 1 < w.length && !(w(i) == '\r' && w(i + 1) == '\n')) i += 1
      if (i + 1 < w.length) i else -1
    }
    val recs = Vector.newBuilder[(String, Int, Int)]
    var q = 0
    while (q < w.length) {
      val ve = lineEnd(q)
      if (ve < 0) return None
      val version = new String(w, q, ve - q, java.nio.charset.StandardCharsets.US_ASCII)
      if (!(version == "WARC/1.0" || version == "WARC/1.1")) return None
      q = ve + 2
      var warcType: String = null
      var contentLength = -1L
      var headersDone = false
      while (!headersDone) {
        val he = lineEnd(q)
        if (he < 0) return None
        if (he == q) { headersDone = true; q += 2 } // the blank CRLF
        else {
          val line = new String(w, q, he - q, java.nio.charset.StandardCharsets.US_ASCII)
          val colon = line.indexOf(':')
          if (colon <= 0) return None
          val name = line.substring(0, colon).trim
          val value = line.substring(colon + 1).trim
          if (name.equalsIgnoreCase("WARC-Type")) warcType = value
          if (name.equalsIgnoreCase("Content-Length")) {
            contentLength = java.lang.Long.parseLong(value)
            if (contentLength < 0) return None
          }
          q = he + 2
        }
      }
      if (warcType == null || contentLength < 0) return None
      if (q.toLong + contentLength + 4 > w.length) return None // payload + 2 CRLFs
      recs += ((warcType, q, contentLength.toInt))
      q += contentLength.toInt
      if (!(w(q) == '\r' && w(q + 1) == '\n' &&
        w(q + 2) == '\r' && w(q + 3) == '\n')) return None
      q += 4
    }
    Some(recs.result())
  }

  private def warcCensusImpl(b: Array[Byte]): Option[(Long, Long, Long, Long, Long)] = {
    val (nMembers, w) = gunzipMembers(b) match {
      case Some(x) => x
      case None => return None
    }
    val recs = warcRecordSpans(w) match {
      case Some(x) => x
      case None => return None
    }
    var payloadBytes = 0L
    var payloadSum = 0L
    var nResponse = 0L
    recs.foreach { case (typ, off, len) =>
      var i = 0
      while (i < len) { payloadSum += w(off + i) & 0xff; i += 1 }
      payloadBytes += len
      if (typ == "response") nResponse += 1
    }
    Some((nMembers, recs.length.toLong, nResponse, payloadBytes, payloadSum))
  }

  /** HTTP extraction from WARC RESPONSE records — the inner structure
    * Common Crawl response payloads actually carry (an HTTP/1.x
    * message: status line, header block, body): per response record,
    * the status code, header count, and exact body byte stats, under
    * BOTH wire framings crawl archives contain — Content-Length
    * (VERIFIED against the framed body; a forged header rejects the
    * file) and `Transfer-Encoding: chunked` (RFC 7230 hex-size chunk
    * walk, required to consume the record payload exactly; body stats
    * are over the DE-CHUNKED bytes, so they are framing-invariant).
    * A message declaring both framings is ambiguous and rejects.
    * Non-response records pass through uncounted (request/metadata
    * records are census material, not corpus text). None on any
    * malformed member, record, or HTTP message — whole-file reject.
    */
  def warcHttpStats(b: Array[Byte]): Option[Vector[(Long, Long, Long, Long, Long)]] =
    try warcHttpStatsImpl(b)
    catch { case scala.util.control.NonFatal(_) => None }

  private def warcHttpStatsImpl(
      b: Array[Byte]): Option[Vector[(Long, Long, Long, Long, Long)]] = {
    val (_, w) = gunzipMembers(b) match {
      case Some(x) => x
      case None => return None
    }
    val recs = warcRecordSpans(w) match {
      case Some(x) => x
      case None => return None
    }
    val out = Vector.newBuilder[(Long, Long, Long, Long, Long)]
    var respIdx = 0L
    recs.foreach { case (typ, off, len) =>
      if (typ == "response") {
        val (code, nHeaders, body) = httpResponseMessage(w, off, len) match {
          case Some(x) => x
          case None => return None
        }
        var s = 0L
        var i = 0
        while (i < body.length) { s += body(i) & 0xff; i += 1 }
        out += ((respIdx, code, nHeaders, body.length.toLong, s))
        respIdx += 1
      }
    }
    Some(out.result())
  }

  /** Parse one HTTP/1.x response message framed inside a WARC record
    * payload at w[off, off+len): status code, header count, and the
    * DE-FRAMED body bytes — under both wire framings (Content-Length
    * VERIFIED against the framed body; RFC 7230 chunked walked and
    * reassembled, required to consume the payload exactly). None on any
    * grammar violation, a forged length, ambiguous double framing, or
    * trailing bytes after the 0 chunk.
    */
  private def httpResponseMessage(
      w: Array[Byte], off: Int, len: Int): Option[(Long, Long, Array[Byte])] = {
    def lineEnd(from: Int): Int = {
      var i = from
      while (i + 1 < off + len && !(w(i) == '\r' && w(i + 1) == '\n')) i += 1
      if (i + 1 < off + len) i else -1
    }
    val se = lineEnd(off)
    if (se < 0) return None
    val status = new String(w, off, se - off, java.nio.charset.StandardCharsets.US_ASCII)
    // status line: HTTP/1.x SP 3-digit code SP reason
    if (!status.startsWith("HTTP/1.")) return None
    val parts = status.split(" ", 3)
    if (parts.length < 2 || parts(1).isEmpty || !parts(1).forall(_.isDigit))
      return None
    val code = parts(1).toLong
    var q = se + 2
    var nHeaders = 0L
    var declared = -1L
    var chunked = false
    var headersDone = false
    while (!headersDone) {
      val he = lineEnd(q)
      if (he < 0) return None
      if (he == q) { headersDone = true; q += 2 }
      else {
        val line = new String(w, q, he - q, java.nio.charset.StandardCharsets.US_ASCII)
        val colon = line.indexOf(':')
        if (colon <= 0) return None
        val hname = line.substring(0, colon).trim
        if (hname.equalsIgnoreCase("Content-Length"))
          declared = java.lang.Long.parseLong(line.substring(colon + 1).trim)
        if (hname.equalsIgnoreCase("Transfer-Encoding") &&
          line.substring(colon + 1).trim.equalsIgnoreCase("chunked"))
          chunked = true
        nHeaders += 1
        q = he + 2
      }
    }
    if (chunked && declared >= 0) return None // ambiguous framing
    if (chunked) {
      // RFC 7230 chunked framing: hex size line, chunk, CRLF, repeated;
      // the 0 chunk then a final CRLF (no trailers in crawl archives);
      // the chunk stream must consume the framed record payload
      // EXACTLY — never a partial body
      val body = new java.io.ByteArrayOutputStream()
      var p = q
      var zero = false
      while (!zero) {
        val he = lineEnd(p)
        if (he < 0) return None
        val sizeStr = new String(w, p, he - p, java.nio.charset.StandardCharsets.US_ASCII)
        if (sizeStr.isEmpty || !sizeStr.forall(c => Character.digit(c, 16) >= 0))
          return None
        val csize = java.lang.Long.parseLong(sizeStr, 16)
        p = he + 2
        if (csize == 0) {
          if (!(p + 1 < off + len && w(p) == '\r' && w(p + 1) == '\n'))
            return None
          p += 2
          zero = true
        } else {
          if (p + csize + 2 > off + len) return None
          body.write(w, p, csize.toInt)
          p += csize.toInt
          if (!(w(p) == '\r' && w(p + 1) == '\n')) return None
          p += 2
        }
      }
      if (p != off + len) return None // trailing bytes after the 0 chunk
      Some((code, nHeaders, body.toByteArray))
    } else {
      val bodyLen = off + len - q
      if (bodyLen < 0) return None
      // the declared HTTP length must match the framed body exactly —
      // a forged header is how a partial/overlong body slips through
      if (declared >= 0 && declared != bodyLen) return None
      Some((code, nHeaders, java.util.Arrays.copyOfRange(w, q, off + len)))
    }
  }

  /** Append one WARC record to `bos` as its own gzip member: the WARC/1.0
    * header (type `typ`, record id
    * `urn:uuid:00000000-0000-0000-<series>-<id>`, a fixed date, the
    * payload length), the payload and the closing CRLF CRLF. Each
    * fixture writer numbers its records in its own id series. */
  private def writeWarcMember(bos: java.io.ByteArrayOutputStream, typ: String,
      series: Int, id: Long, payload: Array[Byte]): Unit = {
    val rec = new java.io.ByteArrayOutputStream()
    val hdr = s"WARC/1.0\r\n" +
      s"WARC-Type: $typ\r\n" +
      f"WARC-Record-ID: <urn:uuid:00000000-0000-0000-$series%04d-$id%012d>\r\n" +
      s"WARC-Date: 2024-01-01T00:00:00Z\r\n" +
      s"Content-Length: ${payload.length}\r\n" +
      "\r\n"
    rec.write(hdr.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    rec.write(payload)
    rec.write("\r\n\r\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(rec.toByteArray)
    gz.finish() // end THIS member; the stream stays open for the next
  }

  /** `body` in HTTP/1.1 chunked transfer coding, as the WARC fixture
    * writers ship it: chunk i carries 3 + i % 5 bytes (the last one
    * what is left), each as a hex size line and the data with CRLFs,
    * then the zero-size last chunk and an empty trailer. */
  private def chunkedBody(body: Array[Byte]): Array[Byte] = {
    val cb = new java.io.ByteArrayOutputStream()
    var o = 0
    var ci = 0
    while (o < body.length) {
      val n = math.min(3 + (ci % 5), body.length - o)
      cb.write(java.lang.Long.toHexString(n.toLong)
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      cb.write('\r'); cb.write('\n')
      cb.write(body, o, n)
      cb.write('\r'); cb.write('\n')
      o += n
      ci += 1
    }
    cb.write('0'); cb.write('\r'); cb.write('\n')
    cb.write('\r'); cb.write('\n')
    cb.toByteArray
  }

  /** Deterministic WARC fixture whose RESPONSE payloads are real
    * HTTP/1.1 messages (status cycling 200/404/301 by response index,
    * Content-Type + Content-Length + X-Crawl headers, body "body <r>
    * of crawl <tag> " repeated (r+1) times); request records
    * interleave every third record as in real crawls. */
  def warcHttpBytes(tag: Int, nRecords: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    var r = 0
    var resp = 0
    while (r < nRecords) {
      val isReq = r % 3 == 2
      val payload: Array[Byte] =
        if (isReq)
          (s"GET /page/$r HTTP/1.1\r\nHost: crawl-$tag.example\r\n\r\n")
            .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        else {
          val body = (s"body $resp of crawl $tag " * (resp + 1))
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val code = (resp % 3) match {
            case 0 => "200 OK"
            case 1 => "404 Not Found"
            case _ => "301 Moved Permanently"
          }
          // every fourth response ships Transfer-Encoding: chunked (the
          // other HTTP framing crawl archives really contain): same
          // de-chunked body, so the closed-form body oracle is invariant
          // to the wire framing — which is itself the check
          val chunked = resp % 4 == 3
          val wire = if (chunked) chunkedBody(body) else body
          val hdr = s"HTTP/1.1 $code\r\n" +
            "Content-Type: text/plain\r\n" +
            (if (chunked) "Transfer-Encoding: chunked\r\n"
             else s"Content-Length: ${body.length}\r\n") +
            s"X-Crawl: $tag\r\n" +
            "\r\n"
          resp += 1
          hdr.getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++ wire
        }
      writeWarcMember(bos, if (isReq) "request" else "response", 1,
        tag.toLong * 100000 + r, payload)
      r += 1
    }
    bos.toByteArray
  }

  /** WARC -> HTTP -> HTML chain: per status-200 response record, the
    * de-framed body parsed as an HTML page and extracted to visible
    * text ([[HtmlText.extract]]) — the complete crawl front door in one
    * walk (gzip members -> WARC records -> HTTP messages -> documents),
    * applying the 200-only filter every crawl pipeline applies first.
    * Rows: (respIdx, status, title, nLinks, nPara, textChars, textSum,
    * htmlOk). Non-200 responses get a row with zeroed extraction
    * (filtered, not extracted); a structurally malformed HTML body is a
    * PER-DOCUMENT failure (htmlOk = false) — the WARC framing is
    * intact, so one bad page must not reject the crawl file. Container
    * or HTTP grammar violations still reject whole-file (None).
    */
  def warcHtmlTexts(
      b: Array[Byte]): Option[Vector[(Long, Long, String, Long, Long, Long, Long, Boolean)]] =
    try warcHtmlTextsImpl(b)
    catch { case scala.util.control.NonFatal(_) => None }

  private def warcHtmlTextsImpl(
      b: Array[Byte]): Option[Vector[(Long, Long, String, Long, Long, Long, Long, Boolean)]] = {
    val (_, w) = gunzipMembers(b) match {
      case Some(x) => x
      case None => return None
    }
    val recs = warcRecordSpans(w) match {
      case Some(x) => x
      case None => return None
    }
    val out = Vector.newBuilder[(Long, Long, String, Long, Long, Long, Long, Boolean)]
    var respIdx = 0L
    recs.foreach { case (typ, off, len) =>
      if (typ == "response") {
        val (code, _, body) = httpResponseMessage(w, off, len) match {
          case Some(x) => x
          case None => return None
        }
        if (code == 200L) {
          val html = new String(body, java.nio.charset.StandardCharsets.UTF_8)
          HtmlText.extract(html) match {
            case Some(e) =>
              var s = 0L
              var i = 0
              while (i < e.text.length) { s += e.text.charAt(i).toLong; i += 1 }
              out += ((respIdx, code, e.title, e.nLinks, e.nPara,
                e.text.length.toLong, s, true))
            case None =>
              out += ((respIdx, code, "", 0L, 0L, 0L, 0L, false))
          }
        } else out += ((respIdx, code, "", 0L, 0L, 0L, 0L, false))
        respIdx += 1
      }
    }
    Some(out.result())
  }

  /** Deterministic WARC fixture whose response bodies are the
    * [[HtmlText.htmlPage]] trap pages: response p of file `tag` carries
    * page seed `tag * 10 + p` with nPara = 2 + (tag+p) % 3 and
    * nLink = 1 + (tag+p) % 4; every p % 3 == 1 response is a 404 (the
    * 200-only filter's prey); every ODD response ships
    * Transfer-Encoding: chunked with 3-7 byte chunks, so tags and
    * entities are split MID-TOKEN across chunk boundaries and the
    * extraction must be framing-invariant; request records interleave.
    */
  def warcHtmlBytes(tag: Int, nResponses: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    var p = 0
    while (p < nResponses) {
      val is404 = p % 3 == 1
      val body: Array[Byte] =
        if (is404) "gone".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        else HtmlText.htmlPage(tag * 10 + p, 2 + (tag + p) % 3, 1 + (tag + p) % 4)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val chunked = p % 2 == 1
      val wire = if (chunked) chunkedBody(body) else body
      val hdr = s"HTTP/1.1 ${if (is404) "404 Not Found" else "200 OK"}\r\n" +
        "Content-Type: text/html; charset=utf-8\r\n" +
        (if (chunked) "Transfer-Encoding: chunked\r\n"
         else s"Content-Length: ${body.length}\r\n") +
        "\r\n"
      writeWarcMember(bos, "response", 2, tag.toLong * 100000 + p * 2,
        hdr.getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++ wire)
      if (p % 2 == 0)
        writeWarcMember(bos, "request", 2, tag.toLong * 100000 + p * 2 + 1,
          (s"GET /page/$p HTTP/1.1\r\nHost: crawl-$tag.example\r\n\r\n")
            .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      p += 1
    }
    bos.toByteArray
  }

  /** Deterministic WARC fixture in Common Crawl's delivery shape: one
    * gzip MEMBER per record, record r typed response/request/metadata
    * by r % 3 and carrying "record <r> of crawl <tag> " repeated
    * (r+1) times. */
  def warcBytes(tag: Int, nRecords: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    var r = 0
    while (r < nRecords) {
      val payload = (s"record $r of crawl $tag " * (r + 1))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val typ = (r % 3) match {
        case 0 => "response"
        case 1 => "request"
        case _ => "metadata"
      }
      writeWarcMember(bos, typ, 0, tag.toLong * 100000 + r, payload)
      r += 1
    }
    bos.toByteArray
  }

  /** Deterministic ZIP fixture: `nEntries` stored-then-deflated text
    * entries, entry e carrying the bytes of
    * "entry <e> of archive <tag> " repeated (e+1) times. */
  def zipBytes(tag: Int, nEntries: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(bos)
    var e = 0
    while (e < nEntries) {
      zos.putNextEntry(new java.util.zip.ZipEntry(f"doc_$e%03d.txt"))
      val payload = (s"entry $e of archive $tag " * (e + 1))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      zos.write(payload)
      zos.closeEntry()
      e += 1
    }
    zos.close()
    bos.toByteArray
  }

  /** Deterministic ustar TAR fixture with the same payload scheme as
    * [[zipBytes]] — header checksums computed per spec. */
  def tarBytes(tag: Int, nEntries: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var e = 0
    while (e < nEntries) {
      val payload = (s"entry $e of archive $tag " * (e + 1))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val hdr = new Array[Byte](512)
      val name = f"doc_$e%03d.txt".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      System.arraycopy(name, 0, hdr, 0, name.length)
      def putOctal(off: Int, len: Int, v: Long): Unit = {
        val s = java.lang.Long.toOctalString(v)
        val padded = ("0" * (len - 1 - s.length)) + s
        val bytes = padded.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        System.arraycopy(bytes, 0, hdr, off, bytes.length)
        hdr(off + len - 1) = 0
      }
      putOctal(100, 8, 420) // mode 0644
      putOctal(108, 8, 0) // uid
      putOctal(116, 8, 0) // gid
      putOctal(124, 12, payload.length.toLong)
      putOctal(136, 12, 1700000000L + e) // mtime, fixed
      hdr(156) = '0' // typeflag: regular file
      hdr(257) = 'u'; hdr(258) = 's'; hdr(259) = 't'; hdr(260) = 'a'; hdr(261) = 'r'
      hdr(263) = '0'; hdr(264) = '0' // version "00"; magic NUL at 262
      java.util.Arrays.fill(hdr, 148, 156, ' '.toByte)
      var hsum = 0L
      var i = 0
      while (i < 512) { hsum += hdr(i) & 0xff; i += 1 }
      val cs = java.lang.Long.toOctalString(hsum)
      val csPad = ("0" * (6 - cs.length)) + cs
      System.arraycopy(csPad.getBytes(java.nio.charset.StandardCharsets.US_ASCII),
        0, hdr, 148, 6)
      hdr(154) = 0; hdr(155) = ' '
      out.write(hdr)
      out.write(payload)
      val pad = ((payload.length + 511) / 512) * 512 - payload.length
      out.write(new Array[Byte](pad))
      e += 1
    }
    out.write(new Array[Byte](1024)) // two terminator blocks
    out.toByteArray
  }

  /** DATA-URI image extraction from TEXT — the crawl-text-to-multimodal
    * bridge: HTML in a web corpus embeds images inline as
    * `data:image/<fmt>;base64,...`, and a pipeline that only routes
    * binary FILES never sees them. Finds every base64 image data URI
    * in a document, decodes the payload (strict RFC 4648 — bad
    * alphabet/padding counts as invalid, never a partial image),
    * routes the bytes by MAGIC (the declared media type is untrusted
    * input and is deliberately ignored, exactly like file extensions),
    * and folds real decode stats: PNGs through the canonical-RGB path
    * (pixel count + channel sums), GIFs through the real LZW decode
    * (pixel count). Returns (nUris, nDecoded, nPng, nGif, nInvalid,
    * nPx, sumR, sumG, sumB); URIs whose payload fails its decoder land
    * in nInvalid.
    */
  def dataUriImageStats(text: String): (Long, Long, Long, Long, Long, Long, Long, Long, Long) = {
    val re = "data:image/[a-z]+;base64,([A-Za-z0-9+/=]+)".r
    var nUris = 0L; var nDecoded = 0L; var nPng = 0L; var nGif = 0L
    var nInvalid = 0L; var nPx = 0L
    var sumR = 0L; var sumG = 0L; var sumB = 0L
    re.findAllMatchIn(text).foreach { m =>
      nUris += 1
      val payload =
        try Some(java.util.Base64.getDecoder.decode(m.group(1)))
        catch { case _: IllegalArgumentException => None }
      payload match {
        case None => nInvalid += 1
        case Some(bytes) => sniffKind(bytes) match {
          case "png" => pngPixelStats(bytes) match {
            case Some((w, h, r, g, bl)) =>
              nDecoded += 1; nPng += 1; nPx += w * h
              sumR += r; sumG += g; sumB += bl
            case None => nInvalid += 1
          }
          case "gif" => gifIndexStats(bytes) match {
            case Some((_, _, px, _, _, _)) =>
              nDecoded += 1; nGif += 1; nPx += px
            case None => nInvalid += 1
          }
          case _ => nInvalid += 1
        }
      }
    }
    (nUris, nDecoded, nPng, nGif, nInvalid, nPx, sumR, sumG, sumB)
  }

  /** MAGIC-BYTE format router — the ingest front door a mixed binary
    * corpus goes through before any decoder runs: sniff the container
    * by signature (PNG 8-byte sig; GIF87a/89a; JPEG SOI; RIFF/WAVE
    * with the fmt tag refining the audio subtype; BMP 'BM' + sane DIB
    * header), never by file extension. Returns the detected kind or
    * "unknown".
    */
  def sniffKind(b: Array[Byte]): String = {
    val pngSig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    if (b.length >= 8 && b.startsWith(pngSig)) "png"
    else if (b.length >= 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a') "gif"
    else if (b.length >= 2 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) "jpeg"
    else if (b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == 'F' && b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E') {
      // refine by the fmt chunk's format tag
      var pos = 12
      var tag = -1
      while (pos + 8 <= b.length && tag < 0) {
        val id = new String(b, pos, 4, java.nio.charset.StandardCharsets.US_ASCII)
        val size = le32(b, pos + 4).toInt
        if (id == "fmt " && pos + 10 <= b.length)
          tag = (b(pos + 8) & 0xff) | ((b(pos + 9) & 0xff) << 8)
        if (size < 0 || pos.toLong + 8L + size.toLong > b.length.toLong)
          return "wav_other"
        pos += 8 + size + (size & 1)
      }
      tag match {
        case 1 => "wav_pcm"
        case 3 => "wav_float"
        case 6 | 7 => "wav_g711"
        case _ => "wav_other"
      }
    } else if (b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == 'F' && b(8) == 'W' && b(9) == 'E' && b(10) == 'B' &&
      b(11) == 'P') "webp"
    else if (b.length >= 54 && b(0) == 'B' && b(1) == 'M' &&
      le32(b, 14) >= 40) "bmp"
    else if (b.length >= 8 &&
      ((b(0) == 'I' && b(1) == 'I' && (b(2) & 0xff) == 42 && b(3) == 0) ||
        (b(0) == 'M' && b(1) == 'M' && b(2) == 0 && (b(3) & 0xff) == 42)))
      "tiff"
    else if (b.length >= 3 && (b(0) & 0xff) == 0x1f && (b(1) & 0xff) == 0x8b &&
      (b(2) & 0xff) == 8) "gzip" // crawl containers: multi-member WARC
    else if (b.length >= 12 && b(4) == 'f' && b(5) == 't' && b(6) == 'y' &&
      b(7) == 'p') "mp4" // ISO BMFF: the brand box leads at offset 4
    else if (b.length >= 4 && ((b(0) == 'I' && b(1) == 'D' && b(2) == '3') ||
      ((b(0) & 0xff) == 0xff && (b(1) & 0xe0) == 0xe0))) "mp3" // ID3 or frame sync
    else if (b.length >= 4 && b(0) == 'f' && b(1) == 'L' && b(2) == 'a' &&
      b(3) == 'C') "flac"
    else if (b.length >= 5 && b(0) == '%' && b(1) == 'P' && b(2) == 'D' &&
      b(3) == 'F' && b(4) == '-') "pdf"
    else if (b.length >= 4 && (b(0) & 0xff) == 0x28 && (b(1) & 0xff) == 0xb5 &&
      (b(2) & 0xff) == 0x2f && (b(3) & 0xff) == 0xfd) "zstd"
    else "unknown"
  }

  /** Route a sniffed container to ITS decoder and report whether the
    * full real decode succeeds — the validity read the router exists
    * for (a sniffed-png that fails the PNG decode is corrupt or an
    * unsupported profile, not an unknown format). */
  def sniffValid(kind: String, b: Array[Byte]): Boolean = kind match {
    case "png" => pngDecodeRgb(b).isDefined
    case "gif" => gifAnimStats(b).isDefined
    case "jpeg" => jpegDcStats(b).isDefined
    case "bmp" => bmpPixelStats(b).isDefined
    case "tiff" => tiffPixelStats(b).isDefined
    case "wav_pcm" => pcmStats(b).isDefined
    case "wav_float" => floatPcmStats(b).isDefined
    case "wav_g711" => g711Stats(b).isDefined
    case "gzip" => warcCensus(b).isDefined
    case "mp4" => mp4BoxStats(b).isDefined
    case "mp3" => mp3FrameStats(b).isDefined
    case "webp" => webpInfo(b).isDefined
    case "flac" => flacInfo(b).isDefined
    case "pdf" => PdfText.pdfText(b).isDefined
    case "zstd" => Zstd.decompress(b).isDefined
    case _ => false
  }

  final case class SniffRow(fileId: Long, detected: String, valid: Boolean)

  /** Partition-mapped sniff + dispatch — the [[parseAll]] shape. */
  def sniffAll(df: DataFrame): Dataset[SniffRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("file_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val kind = sniffKind(bytes)
          SniffRow(id, kind, sniffValid(kind, bytes))
        }
      }
  }

  /** BMP decode (Windows DIB, 24-bit BI_RGB) — the uncompressed image
    * container screenshots/scans still arrive in: 14-byte file header,
    * 40-byte BITMAPINFOHEADER, BOTTOM-UP rows of BGR triples padded to
    * 4-byte boundaries. Decodes to exact per-channel sums; a decoder
    * that misses the row padding, the bottom-up order (irrelevant to
    * sums but not to the JDK pixel check), or the BGR byte order
    * hash-fails. None unless 24-bit uncompressed (compression 0) with
    * positive height — reject, never mis-decode.
    */
  def bmpPixelStats(b: Array[Byte]): Option[(Long, Long, Long, Long, Long)] =
    try bmpPixelStatsImpl(b)
    catch { case scala.util.control.NonFatal(_) => None }

  private def bmpPixelStatsImpl(
      b: Array[Byte]): Option[(Long, Long, Long, Long, Long)] = {
    if (b.length < 54 || b(0) != 'B' || b(1) != 'M') return None
    val dataOff = le32(b, 10).toInt
    val hdrSize = le32(b, 14).toInt
    if (hdrSize < 40) return None
    val w = le32(b, 18).toInt
    val h = le32(b, 22).toInt // positive = bottom-up (the only form here)
    val planes = (b(26) & 0xff) | ((b(27) & 0xff) << 8)
    val bpp = (b(28) & 0xff) | ((b(29) & 0xff) << 8)
    val compression = le32(b, 30).toInt
    if (w <= 0 || h <= 0 || planes != 1 || bpp != 24 || compression != 0)
      return None
    val stride = ((w * 3 + 3) / 4) * 4 // rows pad to 4-byte boundaries
    if (dataOff.toLong + stride.toLong * h > b.length.toLong) return None
    var sumR = 0L; var sumG = 0L; var sumB = 0L
    var row = 0
    while (row < h) {
      val off = dataOff + row * stride // bottom-up; sums are order-free
      var x = 0
      while (x < w) {
        sumB += b(off + 3 * x) & 0xff // BGR byte order
        sumG += b(off + 3 * x + 1) & 0xff
        sumR += b(off + 3 * x + 2) & 0xff
        x += 1
      }
      row += 1
    }
    Some((w.toLong, h.toLong, sumR, sumG, sumB))
  }

  /** Decode a 24-bit BMP to the canonical top-down RGB stream (for the
    * JDK pixel-for-pixel spec — sums alone can't catch a flipped or
    * channel-swapped walk). */
  def bmpDecodeRgb(b: Array[Byte]): Option[(Int, Int, Array[Byte])] =
    try {
      if (bmpPixelStatsImpl(b).isEmpty) return None
      val dataOff = le32(b, 10).toInt
      val w = le32(b, 18).toInt
      val h = le32(b, 22).toInt
      val stride = ((w * 3 + 3) / 4) * 4
      val rgb = new Array[Byte](w * h * 3)
      var row = 0
      while (row < h) {
        val srcOff = dataOff + (h - 1 - row) * stride // bottom-up -> top-down
        var x = 0
        while (x < w) {
          val o = (row * w + x) * 3
          rgb(o) = b(srcOff + 3 * x + 2) // R
          rgb(o + 1) = b(srcOff + 3 * x + 1) // G
          rgb(o + 2) = b(srcOff + 3 * x) // B
          x += 1
        }
        row += 1
      }
      Some((w, h, rgb))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** 24-bit BMP carrying the SAME deterministic gradient as the PNG
    * tiers (r = (7x+3y) mod 256 …), written bottom-up/BGR/padded per
    * the DIB spec — the channel-sum oracle is the unchanged closed
    * form. */
  def bmpGradientBytes(width: Int, height: Int): Array[Byte] = {
    val stride = ((width * 3 + 3) / 4) * 4
    val size = 54 + stride * height
    val bb = java.nio.ByteBuffer.allocate(size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(size).putInt(0).putInt(54)
    bb.putInt(40).putInt(width).putInt(height) // positive h = bottom-up
      .putShort(1).putShort(24).putInt(0) // planes, bpp, BI_RGB
      .putInt(stride * height).putInt(2835).putInt(2835).putInt(0).putInt(0)
    var row = 0
    while (row < height) {
      val y = height - 1 - row // stored bottom-up
      var x = 0
      while (x < width) {
        bb.put(((5 * x + y) % 256).toByte) // B
        bb.put(((x + 2 * y) % 256).toByte) // G
        bb.put(((7 * x + 3 * y) % 256).toByte) // R
        x += 1
      }
      var p = width * 3
      while (p < stride) { bb.put(0.toByte); p += 1 }
      row += 1
    }
    bb.array()
  }

  /** IEEE-FLOAT PCM decode (WAV format tag 3, 32-bit mono) — the
    * format DAWs and ML audio exports actually write: samples are LE
    * IEEE-754 binary32 in [-1, 1]. Stats are folded as EXACT
    * 2^8-scaled integers (`round(sample * 256)`) so the oracle compares
    * integers, not accumulated floats — exact whenever the fixture's
    * samples are representable multiples of 2^-8, which
    * [[wavFloatToneBytes]] guarantees. Returns (n, sum_q8, min_q8,
    * max_q8). None unless the container is 32-bit mono float — reject,
    * never mis-decode.
    */
  final case class FloatPcmStats(fileId: Long, nSamples: Long,
      sumQ8: Long, minQ8: Long, maxQ8: Long, valid: Boolean)

  def floatPcmStats(b: Array[Byte]): Option[(Long, Long, Long, Long)] = {
    if (b.length < 44 || b(0) != 'R' || b(1) != 'I' || b(2) != 'F' ||
        b(3) != 'F' || b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E')
      return None
    var pos = 12
    var okFloat = false
    var dataOff = -1
    var dataLen = -1
    while (pos + 8 <= b.length && (!okFloat || dataOff < 0)) {
      val id = new String(b, pos, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val size = le32(b, pos + 4).toInt
      if (id == "fmt " && pos + 24 <= b.length) {
        val fmt = (b(pos + 8) & 0xff) | ((b(pos + 9) & 0xff) << 8)
        val ch = (b(pos + 10) & 0xff) | ((b(pos + 11) & 0xff) << 8)
        val bits = (b(pos + 22) & 0xff) | ((b(pos + 23) & 0xff) << 8)
        if (fmt == 3 && ch == 1 && bits == 32) okFloat = true
        else return None
      } else if (id == "data") { dataOff = pos + 8; dataLen = size }
      if (size < 0 || pos.toLong + 8L + size.toLong > b.length.toLong) return None
      pos += 8 + size + (size & 1)
    }
    if (!okFloat || dataOff < 0 || dataOff + dataLen > b.length) return None
    val n = dataLen / 4
    if (n == 0) return None
    var sum = 0L
    var mn = Long.MaxValue
    var mx = Long.MinValue
    var i = 0
    while (i < n) {
      val o = dataOff + 4 * i
      val bits = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
        ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
      val s = java.lang.Float.intBitsToFloat(bits)
      if (s.isNaN || s < -4f || s > 4f) return None // not audio-range
      val q = math.round(s * 256f).toLong
      sum += q
      if (q < mn) mn = q
      if (q > mx) mx = q
      i += 1
    }
    Some((n.toLong, sum, mn, mx))
  }

  /** Partition-mapped float-PCM stats — the [[parseAll]] narrow shape. */
  def floatPcmStatsAll(df: DataFrame): Dataset[FloatPcmStats] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("file_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          floatPcmStats(bytes) match {
            case Some((n, s, mn, mx)) =>
              FloatPcmStats(id, n, s, mn, mx, valid = true)
            case None => FloatPcmStats(id, 0L, 0L, 0L, 0L, valid = false)
          }
        }
      }
  }

  /** Complete IEEE-float WAV (tag 3, 32-bit mono): sample i =
    * (((7i + 3) mod 33) - 16) / 16 — every value an exact multiple of
    * 2^-4 (so 2^8-scaled stats are exact integers), walking the full
    * [-1, 1] range with both signs. */
  def wavFloatToneBytes(sampleRate: Int, nSamples: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(44 + 4 * nSamples)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    bb.put("RIFF".getBytes(ascii)).putInt(36 + 4 * nSamples).put("WAVE".getBytes(ascii))
    bb.put("fmt ".getBytes(ascii)).putInt(16)
      .putShort(3).putShort(1).putInt(sampleRate)
      .putInt(sampleRate * 4).putShort(4).putShort(32)
    bb.put("data".getBytes(ascii)).putInt(4 * nSamples)
    var i = 0
    while (i < nSamples) {
      bb.putFloat((((7 * i + 3) % 33) - 16) / 16.0f)
      i += 1
    }
    bb.array()
  }

  /** Complete G.711 WAV (µ-law tag 7 or A-law tag 6, 8-bit mono):
    * byte i = (7i + 3) mod 256 — a full-period walk that hits all 256
    * code words (both signs, every segment), so the closed-form oracle
    * exercises the entire companding table. */
  def wavG711Bytes(sampleRate: Int, nSamples: Int, lawTag: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(44 + nSamples)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    bb.put("RIFF".getBytes(ascii)).putInt(36 + nSamples).put("WAVE".getBytes(ascii))
    bb.put("fmt ".getBytes(ascii)).putInt(16)
      .putShort(lawTag.toShort).putShort(1).putInt(sampleRate)
      .putInt(sampleRate).putShort(1).putShort(8)
    bb.put("data".getBytes(ascii)).putInt(nSamples)
    var i = 0
    while (i < nSamples) {
      bb.put(((7 * i + 3) % 256).toByte)
      i += 1
    }
    bb.array()
  }

  /** Complete 16-bit mono PCM WAV carrying a DETERMINISTIC biased
    * square wave: sample i = bias + amp when (i / halfPeriod) is even,
    * bias − amp when odd — every statistic [[pcmStats]] computes is
    * recomputable in closed form from (nSamples, amp, bias,
    * halfPeriod), which is what lets a SQL oracle check a real binary
    * decode.
    */
  def wavToneBytes(sampleRate: Int, nSamples: Int, amp: Int, bias: Int,
      halfPeriod: Int): Array[Byte] = {
    val dataBytes = nSamples * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    bb.put("RIFF".getBytes(ascii)).putInt(36 + dataBytes).put("WAVE".getBytes(ascii))
    bb.put("fmt ".getBytes(ascii)).putInt(16)
      .putShort(1).putShort(1).putInt(sampleRate)
      .putInt(sampleRate * 2).putShort(2).putShort(16)
    bb.put("data".getBytes(ascii)).putInt(dataBytes)
    var i = 0
    while (i < nSamples) {
      val s = if ((i / halfPeriod) % 2 == 0) bias + amp else bias - amp
      bb.putShort(s.toShort)
      i += 1
    }
    bb.array()
  }

  /** Bit-DEPTH-aware mono PCM statistics — the depth ladder above
    * [[pcmStats]]'s fixed 16-bit: 8-bit (UNSIGNED storage per the WAV
    * spec, centered by −128 on decode), 16-bit, and 24-bit (both
    * signed little-endian). Returns (bits, n, sum, sumSq, peakAbs,
    * crossings) over the centered samples; None for any other layout —
    * reject, never mis-decode. Chunk walks use Long arithmetic
    * (crafted sizes near 2^31 must not wrap past the bounds check).
    */
  def pcmDepthStats(
      b: Array[Byte]): Option[(Long, Long, Long, Long, Long, Long)] = {
    if (b.length < 44 || b(0) != 'R' || b(1) != 'I' || b(2) != 'F' ||
        b(3) != 'F' || b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E')
      return None
    var pos = 12
    var bits = -1
    var dataOff = -1
    var dataLen = -1
    while (pos + 8 <= b.length && (bits < 0 || dataOff < 0)) {
      val id = new String(b, pos, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val size = le32(b, pos + 4).toInt
      if (id == "fmt " && pos + 24 <= b.length) {
        val fmt = (b(pos + 8) & 0xff) | ((b(pos + 9) & 0xff) << 8)
        val ch = (b(pos + 10) & 0xff) | ((b(pos + 11) & 0xff) << 8)
        val bi = (b(pos + 22) & 0xff) | ((b(pos + 23) & 0xff) << 8)
        if (fmt == 1 && ch == 1 && (bi == 8 || bi == 16 || bi == 24)) bits = bi
      } else if (id == "data") { dataOff = pos + 8; dataLen = size }
      if (size < 0 || pos.toLong + 8L + size.toLong > b.length.toLong)
        return None // corrupt chunk size (Long: no Int wrap)
      pos += 8 + size + (size & 1)
    }
    if (bits < 0 || dataOff < 0 || dataOff + dataLen > b.length) return None
    val bps = bits / 8
    val n = dataLen / bps
    var i = 0
    var sum = 0L
    var sumSq = 0L
    var peak = 0L
    var crossings = 0L
    var prevSign = 0
    while (i < n) {
      val o = dataOff + bps * i
      val s: Long = bits match {
        case 8 => (b(o) & 0xff).toLong - 128L // unsigned storage
        case 16 => (((b(o + 1) & 0xff) << 8) | (b(o) & 0xff)).toShort.toLong
        case _ => // 24-bit signed LE: sign-extend through bit 23
          val v = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
            ((b(o + 2) & 0xff) << 16)
          ((v << 8) >> 8).toLong
      }
      sum += s
      sumSq += s * s
      val a = math.abs(s)
      if (a > peak) peak = a
      val sign = if (s > 0) 1 else if (s < 0) -1 else prevSign
      if (prevSign != 0 && sign != prevSign) crossings += 1
      if (sign != 0) prevSign = sign
      i += 1
    }
    Some((bits.toLong, n.toLong, sum, sumSq, peak, crossings))
  }

  final case class PcmDepthStats(
      fileId: Long, bits: Long, nSamples: Long, sumAmp: Long, sumSq: Long,
      peakAbs: Long, crossings: Long, valid: Boolean)

  /** Partition-mapped depth-aware PCM stats — the parseAll shape. */
  def pcmDepthAll(df: DataFrame): Dataset[PcmDepthStats] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("file_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          pcmDepthStats(bytes) match {
            case Some((bi, n, s, sq, p, c)) =>
              PcmDepthStats(id, bi, n, s, sq, p, c, valid = true)
            case None => PcmDepthStats(id, 0L, 0L, 0L, 0L, 0L, 0L, valid = false)
          }
        }
      }
  }

  /** Depth-parameterized mono square-wave WAV — [[wavToneBytes]] at 8,
    * 16, or 24 bits per sample (8-bit stored UNSIGNED with the +128
    * offset the WAV spec mandates; 16/24 signed LE), so the same
    * closed-form oracle family covers the whole depth ladder.
    */
  def wavToneBytesDepth(sampleRate: Int, nSamples: Int, amp: Int, bias: Int,
      halfPeriod: Int, bits: Int): Array[Byte] = {
    require(bits == 8 || bits == 16 || bits == 24)
    val bps = bits / 8
    val dataBytes = nSamples * bps
    val bb = java.nio.ByteBuffer.allocate(44 + dataBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    bb.put("RIFF".getBytes(ascii)).putInt(36 + dataBytes).put("WAVE".getBytes(ascii))
    bb.put("fmt ".getBytes(ascii)).putInt(16)
      .putShort(1).putShort(1).putInt(sampleRate)
      .putInt(sampleRate * bps).putShort(bps.toShort).putShort(bits.toShort)
    bb.put("data".getBytes(ascii)).putInt(dataBytes)
    var i = 0
    while (i < nSamples) {
      val s = if ((i / halfPeriod) % 2 == 0) bias + amp else bias - amp
      bits match {
        case 8 => bb.put((s + 128).toByte)
        case 16 => bb.putShort(s.toShort)
        case _ =>
          bb.put((s & 0xff).toByte)
          bb.put(((s >> 8) & 0xff).toByte)
          bb.put(((s >> 16) & 0xff).toByte)
      }
      i += 1
    }
    bb.array()
  }

  final case class PcmChStats(
      fileId: Long, channel: Long, nSamples: Long, sumAmp: Long, sumSq: Long,
      peakAbs: Long, crossings: Long, valid: Boolean)

  /** STEREO (16-bit 2-channel interleaved) PCM statistics — the
    * [[pcmStats]] fold per channel over L/R-interleaved frames. None
    * unless the container is exactly 16-bit stereo PCM.
    */
  def pcmStereoStats(
      b: Array[Byte]): Option[Array[(Long, Long, Long, Long, Long)]] = {
    if (b.length < 44 || b(0) != 'R' || b(1) != 'I' || b(2) != 'F' ||
        b(3) != 'F' || b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E')
      return None
    var pos = 12
    var ok16Stereo = false
    var dataOff = -1
    var dataLen = -1
    while (pos + 8 <= b.length && (!ok16Stereo || dataOff < 0)) {
      val id = new String(b, pos, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val size = le32(b, pos + 4).toInt
      if (id == "fmt " && pos + 24 <= b.length) {
        val fmt = (b(pos + 8) & 0xff) | ((b(pos + 9) & 0xff) << 8)
        val ch = (b(pos + 10) & 0xff) | ((b(pos + 11) & 0xff) << 8)
        val bits = (b(pos + 22) & 0xff) | ((b(pos + 23) & 0xff) << 8)
        ok16Stereo = fmt == 1 && ch == 2 && bits == 16
      } else if (id == "data") { dataOff = pos + 8; dataLen = size }
      if (size < 0 || pos.toLong + 8L + size.toLong > b.length.toLong) return None // corrupt size (Long: no Int wrap)
      pos += 8 + size + (size & 1)
    }
    if (!ok16Stereo || dataOff < 0 || dataOff + dataLen > b.length) return None
    val frames = dataLen / 4
    val out = Array.fill(2)((0L, 0L, 0L, 0L, 0L))
    var ch = 0
    while (ch < 2) {
      var i = 0
      var sum = 0L; var sumSq = 0L; var peak = 0L; var crossings = 0L
      var prevSign = 0
      while (i < frames) {
        val o = dataOff + 4 * i + 2 * ch
        val s = (((b(o + 1) & 0xff) << 8) | (b(o) & 0xff)).toShort.toLong
        sum += s
        sumSq += s * s
        val a = math.abs(s)
        if (a > peak) peak = a
        val sign = if (s > 0) 1 else if (s < 0) -1 else prevSign
        if (prevSign != 0 && sign != prevSign) crossings += 1
        if (sign != 0) prevSign = sign
        i += 1
      }
      out(ch) = (frames.toLong, sum, sumSq, peak, crossings)
      ch += 1
    }
    Some(out)
  }

  /** Partition-mapped stereo PCM stats — two rows per valid file (one
    * per channel), one valid=false row otherwise.
    */
  def pcmStereoAll(df: DataFrame): Dataset[PcmChStats] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("file_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        pcmStereoStats(bytes) match {
          case Some(chs) => chs.iterator.zipWithIndex.map {
            case ((n, s, sq, p, c), ch) =>
              PcmChStats(id, ch.toLong, n, s, sq, p, c, valid = true)
          }
          case None =>
            Iterator.single(PcmChStats(id, -1L, 0L, 0L, 0L, 0L, 0L, valid = false))
        }
      }
  }

  /** Complete 16-bit STEREO PCM WAV: channel 0 carries the
    * [[wavToneBytes]] square wave (ampL, biasL, halfPeriodL) and
    * channel 1 an independent one — every per-channel statistic has the
    * same closed form as the mono fixture.
    */
  def wavStereoToneBytes(sampleRate: Int, nFrames: Int,
      ampL: Int, biasL: Int, hpL: Int,
      ampR: Int, biasR: Int, hpR: Int): Array[Byte] = {
    val dataBytes = nFrames * 4
    val bb = java.nio.ByteBuffer.allocate(44 + dataBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    bb.put("RIFF".getBytes(ascii)).putInt(36 + dataBytes).put("WAVE".getBytes(ascii))
    bb.put("fmt ".getBytes(ascii)).putInt(16)
      .putShort(1).putShort(2).putInt(sampleRate)
      .putInt(sampleRate * 4).putShort(4).putShort(16)
    bb.put("data".getBytes(ascii)).putInt(dataBytes)
    var i = 0
    while (i < nFrames) {
      val l = if ((i / hpL) % 2 == 0) biasL + ampL else biasL - ampL
      val r = if ((i / hpR) % 2 == 0) biasR + ampR else biasR - ampR
      bb.putShort(l.toShort).putShort(r.toShort)
      i += 1
    }
    bb.array()
  }

  final case class PcmSample(fileId: Long, idx: Long, amp: Long)

  /** Partition-mapped per-SAMPLE PCM decode — the row-level form of
    * [[pcmStatsAll]] for operators that window over the samples in
    * Spark (energy/VAD): same narrow binaryFile shape, one flatMap per
    * file, no shuffle until the consumer's keyed aggregate. Invalid
    * containers contribute zero rows (the consumer's per-file rollup
    * then reports them absent rather than wrong).
    */
  def pcmSamplesAll(df: DataFrame): Dataset[PcmSample] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("file_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) =>
        pcmDataChunk(b) match {
          case Some((off, len)) =>
            (0 until len / 2).iterator.map { i =>
              val o = off + 2 * i
              PcmSample(id, i.toLong,
                (((b(o + 1) & 0xff) << 8) | (b(o) & 0xff)).toShort.toLong)
            }
          case None => Iterator.empty
        }
      }
  }

  /** (offset, byteLength) of the 16-bit-mono PCM data chunk, or None —
    * the container walk shared by [[pcmStats]]-style consumers. */
  private def pcmDataChunk(b: Array[Byte]): Option[(Int, Int)] = {
    if (b.length < 44 || b(0) != 'R' || b(1) != 'I' || b(2) != 'F' ||
        b(3) != 'F' || b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E')
      return None
    var pos = 12
    var ok16Mono = false
    var dataOff = -1
    var dataLen = -1
    while (pos + 8 <= b.length && (!ok16Mono || dataOff < 0)) {
      val id = new String(b, pos, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val size = le32(b, pos + 4).toInt
      if (id == "fmt " && pos + 24 <= b.length) {
        val fmt = (b(pos + 8) & 0xff) | ((b(pos + 9) & 0xff) << 8)
        val ch = (b(pos + 10) & 0xff) | ((b(pos + 11) & 0xff) << 8)
        val bits = (b(pos + 22) & 0xff) | ((b(pos + 23) & 0xff) << 8)
        ok16Mono = fmt == 1 && ch == 1 && bits == 16
      } else if (id == "data") { dataOff = pos + 8; dataLen = size }
      if (size < 0 || pos.toLong + 8L + size.toLong > b.length.toLong) return None // corrupt chunk size (Long: no Int wrap)
      pos += 8 + size + (size & 1)
    }
    if (!ok16Mono || dataOff < 0 || dataOff + dataLen > b.length) None
    else Some((dataOff, dataLen))
  }

  /** Complete 16-bit mono PCM WAV of `nSegs` segments x `segLen`
    * samples where segment s carries a +-amp square wave (half-period
    * `halfPeriod`, phase local to the segment) iff
    * `((5*s + 3) mod 7) < 4`, and silence otherwise — alternating
    * speech-burst/silence structure whose windowed-energy profile is
    * closed-form: |sample| = amp in an active segment, 0 in a silent
    * one, so a segLen-aligned window's RMS is exactly amp or 0.
    */
  def wavBurstBytes(sampleRate: Int, nSegs: Int, segLen: Int, amp: Int,
      halfPeriod: Int): Array[Byte] = {
    val n = nSegs * segLen
    val dataBytes = n * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    bb.put("RIFF".getBytes(ascii)).putInt(36 + dataBytes).put("WAVE".getBytes(ascii))
    bb.put("fmt ".getBytes(ascii)).putInt(16)
      .putShort(1).putShort(1).putInt(sampleRate)
      .putInt(sampleRate * 2).putShort(2).putShort(16)
    bb.put("data".getBytes(ascii)).putInt(dataBytes)
    var s = 0
    while (s < nSegs) {
      val active = ((5 * s + 3) % 7) < 4
      var i = 0
      while (i < segLen) {
        val v =
          if (!active) 0
          else if ((i / halfPeriod) % 2 == 0) amp
          else -amp
        bb.putShort(v.toShort)
        i += 1
      }
      s += 1
    }
    bb.array()
  }

  // Writers for the spec/oracle fixtures: complete, spec-valid minimal
  // containers (the container layer is fully real; pixel/sample payloads
  // are zeros — header parsing never reads them).

  /** Minimal spec-valid PNG: signature, IHDR (8-bit RGB, CRC-correct),
    * one IDAT holding the deflated all-zero scanlines, IEND. */
  def pngBytes(width: Int, height: Int): Array[Byte] =
    pngContainer(width, height, 2, new Array[Byte](height * (1 + width * 3)), null,
      java.util.zip.Deflater.DEFAULT_COMPRESSION)

  /** PNG carrying a DETERMINISTIC RGB gradient — pixel (x, y) is
    * r = (7x+3y) mod 256, g = (x+2y) mod 256, b = (5x+y) mod 256, all
    * scanlines filter-0 — so channel sums are recomputable in closed
    * form (a generate_series cross product in SQL), which is what lets
    * an oracle check a real inflate + unfilter + pixel walk.
    */
  def pngGradientBytes(width: Int, height: Int): Array[Byte] =
    pngGradientBytes(width, height, java.util.zip.Deflater.DEFAULT_COMPRESSION)

  /** [[pngGradientBytes]] with an explicit zlib compression `level` —
    * different levels produce different CONTAINER bytes for identical
    * pixels, the fixture for pixel-identity (vs byte-identity) dedup.
    */
  def pngGradientBytes(width: Int, height: Int, level: Int): Array[Byte] = {
    val raw = new Array[Byte](height * (1 + width * 3))
    var y = 0
    while (y < height) {
      val rowOff = y * (1 + width * 3)
      raw(rowOff) = 0 // filter: None
      var x = 0
      while (x < width) {
        raw(rowOff + 1 + 3 * x) = ((7 * x + 3 * y) % 256).toByte
        raw(rowOff + 2 + 3 * x) = ((x + 2 * y) % 256).toByte
        raw(rowOff + 3 + 3 * x) = ((5 * x + y) % 256).toByte
        x += 1
      }
      y += 1
    }
    pngContainer(width, height, 2, raw, null, level)
  }

  /** RGBA PNG (colorType 6) carrying the SAME RGB gradient as
    * [[pngGradientBytes]] plus a closed-form alpha plane — alpha(x, y)
    * = (3x+5y) mod 256 when `translucent`, constant 255 otherwise (the
    * opaque twin whose pixel identity must match the plain-RGB
    * encode). */
  def pngRgbaBytes(width: Int, height: Int, translucent: Boolean,
      level: Int = 6): Array[Byte] = {
    val raw = new Array[Byte](height * (1 + width * 4))
    var y = 0
    while (y < height) {
      val rowOff = y * (1 + width * 4)
      raw(rowOff) = 0 // filter: None
      var x = 0
      while (x < width) {
        raw(rowOff + 1 + 4 * x) = ((7 * x + 3 * y) % 256).toByte
        raw(rowOff + 2 + 4 * x) = ((x + 2 * y) % 256).toByte
        raw(rowOff + 3 + 4 * x) = ((5 * x + y) % 256).toByte
        raw(rowOff + 4 + 4 * x) =
          if (translucent) ((3 * x + 5 * y) % 256).toByte else 0xff.toByte
        x += 1
      }
      y += 1
    }
    pngContainer(width, height, 6, raw, null, level)
  }

  /** Gray+alpha PNG (colorType 4): gray(x, y) = (3x+7y) mod 256 (the
    * grayscale tier's pattern), alpha(x, y) = (3x+5y) mod 256 when
    * `translucent`, 255 otherwise. */
  def pngGrayAlphaBytes(width: Int, height: Int, translucent: Boolean,
      level: Int = 6): Array[Byte] = {
    val raw = new Array[Byte](height * (1 + width * 2))
    var y = 0
    while (y < height) {
      val rowOff = y * (1 + width * 2)
      raw(rowOff) = 0
      var x = 0
      while (x < width) {
        raw(rowOff + 1 + 2 * x) = ((3 * x + 7 * y) % 256).toByte
        raw(rowOff + 2 + 2 * x) =
          if (translucent) ((3 * x + 5 * y) % 256).toByte else 0xff.toByte
        x += 1
      }
      y += 1
    }
    pngContainer(width, height, 4, raw, null, level)
  }

  /** The one PNG container writer of the fixture family: signature,
    * IHDR (8-bit, `colorType`, Adam7 when `interlaced`), optional PLTE
    * and tRNS, one IDAT with `raw` (filter-prefixed scanlines, or the
    * seven passes' when interlaced) deflated at `level`, IEND; every
    * chunk CRC-correct. */
  private def pngContainer(width: Int, height: Int, colorType: Int,
      raw: Array[Byte], plte: Array[Byte], level: Int,
      trns: Array[Byte] = null, interlaced: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    def chunk(typ: String, data: Array[Byte]): Unit = {
      val len = java.nio.ByteBuffer.allocate(4).putInt(data.length).array()
      out.write(len)
      val body = typ.getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++ data
      out.write(body)
      val crc = new java.util.zip.CRC32()
      crc.update(body)
      out.write(java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array())
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(width).putInt(height)
      .put(8.toByte).put(colorType.toByte)
      .put(0.toByte).put(0.toByte).put((if (interlaced) 1 else 0).toByte)
      .array()
    chunk("IHDR", ihdr)
    if (plte != null) chunk("PLTE", plte)
    if (trns != null) chunk("tRNS", trns)
    val deflater = new java.util.zip.Deflater(level)
    deflater.setInput(raw); deflater.finish()
    val buf = new Array[Byte](raw.length + 128)
    val n = deflater.deflate(buf)
    deflater.end()
    chunk("IDAT", buf.take(n))
    chunk("IEND", Array.empty[Byte])
    out.toByteArray
  }

  /** The closed-form 256-entry palette the palette-tier fixtures index:
    * PLTE[i] = (i, (2i+11) mod 256, (7i+3) mod 256) — every channel a
    * linear form an oracle can recompute with generate_series. */
  private def fixturePlte: Array[Byte] = {
    val p = new Array[Byte](768)
    var i = 0
    while (i < 256) {
      p(3 * i) = i.toByte
      p(3 * i + 1) = ((2 * i + 11) % 256).toByte
      p(3 * i + 2) = ((7 * i + 3) % 256).toByte
      i += 1
    }
    p
  }

  /** Palette-index pattern shared by [[pngPaletteBytes]] and
    * [[pngPaletteAsRgbBytes]]: idx(x, y) = (3x + 5y) mod 256. */
  @inline private def paletteIdx(x: Int, y: Int): Int = (3 * x + 5 * y) % 256

  /** PALETTE PNG (colorType 3): pixel (x, y) carries index
    * (3x+5y) mod 256 into the closed-form [[fixturePlte]] — decoded
    * RGB is (i, (2i+11) mod 256, (7i+3) mod 256) at i = (3x+5y) mod
    * 256, so channel sums are SQL-recomputable like the gradient
    * tier's. */
  def pngPaletteBytes(width: Int, height: Int): Array[Byte] =
    pngPaletteBytes(width, height, java.util.zip.Deflater.DEFAULT_COMPRESSION)

  def pngPaletteBytes(width: Int, height: Int, level: Int): Array[Byte] = {
    val raw = new Array[Byte](height * (1 + width))
    var y = 0
    while (y < height) {
      val rowOff = y * (1 + width)
      raw(rowOff) = 0
      var x = 0
      while (x < width) {
        raw(rowOff + 1 + x) = paletteIdx(x, y).toByte
        x += 1
      }
      y += 1
    }
    pngContainer(width, height, 3, raw, fixturePlte, level)
  }

  /** TRUECOLOR re-encode of exactly [[pngPaletteBytes]]'s decoded
    * pixels — same canonical RGB stream in a colorType-2 container, the
    * fixture pair that makes pixel-identity dedup group ACROSS color
    * types, not just across compression levels. */
  def pngPaletteAsRgbBytes(width: Int, height: Int, level: Int): Array[Byte] = {
    val plte = fixturePlte
    val raw = new Array[Byte](height * (1 + width * 3))
    var y = 0
    while (y < height) {
      val rowOff = y * (1 + width * 3)
      raw(rowOff) = 0
      var x = 0
      while (x < width) {
        val i = paletteIdx(x, y)
        raw(rowOff + 1 + 3 * x) = plte(3 * i)
        raw(rowOff + 2 + 3 * x) = plte(3 * i + 1)
        raw(rowOff + 3 + 3 * x) = plte(3 * i + 2)
        x += 1
      }
      y += 1
    }
    pngContainer(width, height, 2, raw, null, level)
  }

  /** ADAM7-INTERLACED truecolor PNG carrying the SAME gradient as
    * [[pngGradientBytes]]: pixels re-ordered into the spec's seven
    * passes, each pass an independently filtered sub-image whose rows
    * ALTERNATE filter types 0/2 (Up) — so a decoder that forgets the
    * per-pass prior-row reset, mis-sizes an empty pass, or maps a pass
    * offset wrong corrupts pixels and hash-fails against the unchanged
    * closed form. */
  def pngInterlacedGradientBytes(width: Int, height: Int): Array[Byte] = {
    val passes = Array((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
      (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
    val out = new java.io.ByteArrayOutputStream()
    passes.foreach { case (xs, ys, xst, yst) =>
      val wp = math.max(0, (width - xs + xst - 1) / xst)
      val hp = math.max(0, (height - ys + yst - 1) / yst)
      if (wp > 0 && hp > 0) {
        val rowBytes = wp * 3
        val prior = new Array[Int](rowBytes)
        var j = 0
        while (j < hp) {
          val cur = new Array[Int](rowBytes)
          var x = 0
          while (x < wp) {
            val px = xs + x * xst
            val py = ys + j * yst
            cur(3 * x) = (7 * px + 3 * py) % 256
            cur(3 * x + 1) = (px + 2 * py) % 256
            cur(3 * x + 2) = (5 * px + py) % 256
            x += 1
          }
          val f = j % 2 * 2 // rows alternate None / Up
          out.write(f)
          var i = 0
          while (i < rowBytes) {
            out.write(if (f == 0) cur(i) else (cur(i) - prior(i)) & 0xff)
            i += 1
          }
          System.arraycopy(cur, 0, prior, 0, rowBytes)
          j += 1
        }
      }
    }
    pngContainer(width, height, 2, out.toByteArray, null, 6, interlaced = true)
  }

  /** PALETTE PNG with a tRNS per-index alpha table — the third alpha
    * form real web PNGs carry (beside colorTypes 6/4): same pixel
    * pattern as [[pngPaletteBytes]], alpha(idx) = (5*idx + 7) mod 256
    * over the full 256-entry table — both channels closed-form. */
  def pngPaletteTrnsBytes(width: Int, height: Int, level: Int = 6): Array[Byte] = {
    val raw = new Array[Byte](height * (1 + width))
    var y = 0
    while (y < height) {
      val rowOff = y * (1 + width)
      raw(rowOff) = 0
      var x = 0
      while (x < width) {
        raw(rowOff + 1 + x) = paletteIdx(x, y).toByte
        x += 1
      }
      y += 1
    }
    val trns = Array.tabulate(256)(i => ((5 * i + 7) % 256).toByte)
    pngContainer(width, height, 3, raw, fixturePlte, level, trns)
  }

  /** Fully-OPAQUE RGBA re-encode (colorType 6, alpha = 255) of the SAME
    * palette-pattern pixels as [[pngPaletteAsRgbBytes]] — the pixel
    * identity must group it with its RGB and palette twins (an opaque
    * alpha plane carries no content). */
  def pngPaletteAsRgbaBytes(width: Int, height: Int, level: Int): Array[Byte] = {
    val plte = fixturePlte
    val raw = new Array[Byte](height * (1 + width * 4))
    var y = 0
    while (y < height) {
      val rowOff = y * (1 + width * 4)
      raw(rowOff) = 0
      var x = 0
      while (x < width) {
        val i = paletteIdx(x, y)
        raw(rowOff + 1 + 4 * x) = plte(3 * i)
        raw(rowOff + 2 + 4 * x) = plte(3 * i + 1)
        raw(rowOff + 3 + 4 * x) = plte(3 * i + 2)
        raw(rowOff + 4 + 4 * x) = 0xff.toByte
        x += 1
      }
      y += 1
    }
    pngContainer(width, height, 6, raw, null, level)
  }

  /** TRUECOLOR gradient PNG whose rows cycle the full ADAPTIVE FILTER
    * grammar — row y uses filter type (y mod 5): None, Sub, Up,
    * Average, Paeth, each properly filter-ENCODED against the
    * reconstructed neighbors, exactly as a real encoder's heuristic
    * emits mixed filters. The decoded pixels are the same
    * (7x+3y, x+2y, 5x+y) mod 256 gradient as [[pngGradientBytes]], so
    * the closed-form channel-sum oracle is UNCHANGED and the pixel sha
    * equals the filter-0 encode's — a filtered re-encode is the same
    * content. */
  def pngFilteredGradientBytes(width: Int, height: Int): Array[Byte] = {
    val bpp = 3
    val rowBytes = width * bpp
    val raw = new Array[Byte](height * (1 + rowBytes))
    val prior = new Array[Byte](rowBytes)
    val cur = new Array[Byte](rowBytes)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        cur(3 * x) = ((7 * x + 3 * y) % 256).toByte
        cur(3 * x + 1) = ((x + 2 * y) % 256).toByte
        cur(3 * x + 2) = ((5 * x + y) % 256).toByte
        x += 1
      }
      val f = y % 5
      val rowOff = y * (1 + rowBytes)
      raw(rowOff) = f.toByte
      var i = 0
      while (i < rowBytes) {
        val xv = cur(i) & 0xff
        val a = if (i >= bpp) cur(i - bpp) & 0xff else 0
        val bu = prior(i) & 0xff
        val c = if (i >= bpp) prior(i - bpp) & 0xff else 0
        val pred = f match {
          case 0 => 0
          case 1 => a
          case 2 => bu
          case 3 => (a + bu) >> 1
          case _ =>
            val p = a + bu - c
            val pa = math.abs(p - a)
            val pb = math.abs(p - bu)
            val pc = math.abs(p - c)
            if (pa <= pb && pa <= pc) a else if (pb <= pc) bu else c
        }
        raw(rowOff + 1 + i) = ((xv - pred) & 0xff).toByte
        i += 1
      }
      System.arraycopy(cur, 0, prior, 0, rowBytes)
      y += 1
    }
    pngContainer(width, height, 2, raw, null, level = 6)
  }

  /** GRAYSCALE PNG (colorType 0): pixel (x, y) = (3x+7y) mod 256;
    * decoded canonical RGB replicates the gray byte, so
    * sum_r = sum_g = sum_b = the closed-form gray sum. */
  def pngGrayBytes(width: Int, height: Int): Array[Byte] = {
    val raw = new Array[Byte](height * (1 + width))
    var y = 0
    while (y < height) {
      val rowOff = y * (1 + width)
      raw(rowOff) = 0
      var x = 0
      while (x < width) {
        raw(rowOff + 1 + x) = ((3 * x + 7 * y) % 256).toByte
        x += 1
      }
      y += 1
    }
    pngContainer(width, height, 0, raw, null, level = 6)
  }

  /** sha256 (hex) of the DECODED canonical RGB pixel stream (3 bytes
    * per pixel, rows concatenated, filter bytes excluded) — the content
    * identity that survives container re-encoding (compression level,
    * chunking, AND color type: a palette, grayscale, or fully-OPAQUE
    * RGBA re-encode of the same pixels digests identically to the
    * truecolor form, because the digest is over the post-lookup RGB;
    * the alpha plane joins the digest only when it carries information,
    * i.e. any pixel is non-opaque — transparency is pixel content, so
    * a translucent variant must NOT collapse onto its opaque twin).
    * None on undecodable input.
    */
  def pngPixelSha(b: Array[Byte]): Option[(Long, Long, String)] =
    pngDecodeRgba(b).map { case (w, h, rgb, alpha) =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.update(rgb)
      var i = 0
      var opaque = true
      while (opaque && i < alpha.length) {
        if (alpha(i) != 0xff.toByte) opaque = false
        i += 1
      }
      if (!opaque) md.update(alpha)
      (w.toLong, h.toLong, md.digest().map("%02x".format(_)).mkString)
    }

  final case class PixelId(fileId: Long, width: Long, height: Long,
      pixelSha: String, valid: Boolean)

  /** Partition-mapped pixel-identity extraction — [[parseAll]] shape. */
  def pngPixelIdAll(df: DataFrame): Dataset[PixelId] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("file_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          pngPixelSha(bytes) match {
            case Some((w, h, sha)) => PixelId(id, w, h, sha, valid = true)
            case None => PixelId(id, 0L, 0L, "", valid = false)
          }
        }
      }
  }

  /** Pixel-level statistics of an 8-bit PNG — truecolor, GRAYSCALE,
    * or PALETTE, under the full adaptive per-row filter grammar
    * (None/Sub/Up/Average/Paeth): dimensions plus exact per-channel
    * byte sums from a REAL decode — IDAT chunks concatenated, inflated
    * (`java.util.zip.Inflater`), scanlines UNFILTERED per spec §9,
    * pixels walked through the color-type mapping (grayscale
    * replicates the gray byte across R=G=B; palette indexes the PLTE
    * table). None when the container is not 8-bit type 0/2/3, uses an
    * undefined filter type, carries an out-of-palette index, or the
    * inflated payload is short — reject, never mis-decode.
    */
  final case class PngStats(
      fileId: Long, width: Long, height: Long,
      sumR: Long, sumG: Long, sumB: Long, valid: Boolean)

  def pngPixelStats(b: Array[Byte]): Option[(Long, Long, Long, Long, Long)] =
    pngDecodeRgb(b).map { case (w, h, rgb) =>
      var sumR = 0L; var sumG = 0L; var sumB = 0L
      var p = 0
      while (p < rgb.length) {
        sumR += rgb(p) & 0xff
        sumG += rgb(p + 1) & 0xff
        sumB += rgb(p + 2) & 0xff
        p += 3
      }
      (w.toLong, h.toLong, sumR, sumG, sumB)
    }

  /** [[pngPixelStats]] plus the exact ALPHA channel sum and the count
    * of non-opaque pixels — the two numbers a transparency-aware
    * curation gate reads (fully-opaque vs translucent routing). */
  def pngRgbaStats(b: Array[Byte]): Option[(Long, Long, Long, Long, Long, Long, Long)] =
    pngDecodeRgba(b).map { case (w, h, rgb, alpha) =>
      var sumR = 0L; var sumG = 0L; var sumB = 0L
      var p = 0
      while (p < rgb.length) {
        sumR += rgb(p) & 0xff
        sumG += rgb(p + 1) & 0xff
        sumB += rgb(p + 2) & 0xff
        p += 3
      }
      var sumA = 0L
      var nTrans = 0L
      var i = 0
      while (i < alpha.length) {
        sumA += alpha(i) & 0xff
        if (alpha(i) != 0xff.toByte) nTrans += 1
        i += 1
      }
      (w.toLong, h.toLong, sumR, sumG, sumB, sumA, nTrans)
    }

  /** Decode an 8-bit PNG to its CANONICAL RGB stream (3 bytes per
    * pixel, row-major) — the shared real-decode path under
    * [[pngPixelStats]] and [[pngPixelSha]]. Accepted color types:
    * 2 (truecolor, bytes pass through), 0 (grayscale, the gray byte
    * replicates to R=G=B), 3 (palette, each index looks up the PLTE
    * entry — an index past the table rejects), 6 (truecolor+ALPHA —
    * the largest share of real web PNGs — color folds to the canonical
    * stream, alpha rides the side channel of [[pngDecodeRgba]]), and
    * 4 (grayscale+alpha, likewise); the full per-row adaptive filter
    * grammar (0 None / 1 Sub / 2 Up / 3 Average / 4 Paeth) is
    * reconstructed per spec §9 — what real encoders actually emit.
    * Everything else — other bit depths, undefined filter types,
    * Adam7 interlace, short payloads — returns None: reject, never
    * mis-decode.
    */
  def pngDecodeRgb(b: Array[Byte]): Option[(Int, Int, Array[Byte])] =
    pngDecodeRgba(b).map { case (w, h, rgb, _) => (w, h, rgb) }

  /** [[pngDecodeRgb]] plus the per-pixel ALPHA plane (w*h bytes; all
    * 0xFF for the alpha-less color types 0/2/3 — an opaque RGBA
    * re-encode therefore carries the same planes as its RGB twin). */
  def pngDecodeRgba(b: Array[Byte]): Option[(Int, Int, Array[Byte], Array[Byte])] =
    try pngDecodeRgbImpl(b)
    catch { case scala.util.control.NonFatal(_) => None }

  private def pngDecodeRgbImpl(b: Array[Byte]): Option[(Int, Int, Array[Byte], Array[Byte])] = {
    val pngSig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    if (b.length < 33 || !b.startsWith(pngSig)) return None
    if (!(b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')) return None
    val w = be32(b, 16).toInt
    val h = be32(b, 20).toInt
    val bitDepth = b(24) & 0xff
    val colorType = b(25) & 0xff
    val interlace = b(28) & 0xff
    if (bitDepth != 8 || (interlace != 0 && interlace != 1)) return None
    val bpp = colorType match {
      case 0 => 1 // grayscale
      case 2 => 3 // truecolor
      case 3 => 1 // palette index
      case 4 => 2 // grayscale + alpha
      case 6 => 4 // truecolor + alpha
      case _ => return None
    }
    if (w <= 0 || h <= 0) return None
    // walk chunks: concatenate IDAT payloads, capture PLTE
    val idat = new java.io.ByteArrayOutputStream()
    var plte: Array[Byte] = null
    var trns: Array[Byte] = null
    var pos = 33 // after IHDR chunk (8 sig + 4 len + 4 type + 13 + 4 crc)
    while (pos + 8 <= b.length) {
      val size = be32(b, pos).toInt
      // a crafted length like 0xFFFFFFF4 reads as negative and would make
      // `pos += 12 + size` advance by zero — an executor-task hang NonFatal
      // can't catch; reject any chunk that is negative or runs off the end
      if (size < 0 || pos.toLong + 12L + size.toLong > b.length.toLong) return None
      val typ = new String(b, pos + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
      if (typ == "IDAT") idat.write(b, pos + 8, size)
      if (typ == "PLTE") plte = java.util.Arrays.copyOfRange(b, pos + 8, pos + 8 + size)
      if (typ == "tRNS") trns = java.util.Arrays.copyOfRange(b, pos + 8, pos + 8 + size)
      if (typ == "IEND") pos = b.length
      else pos += 12 + size
    }
    if (colorType == 3 &&
      (plte == null || plte.length == 0 || plte.length % 3 != 0)) return None
    // tRNS on a PALETTE image is a per-index alpha table (entries past
    // its end are opaque per spec); on gray/truecolor it is a COLOR-KEY
    // whose chroma-key semantics this decoder does not implement —
    // reject rather than silently decode a keyed image as opaque
    if (trns != null && colorType != 3) return None
    if (trns != null && trns.length > 256) return None
    val nPalette = if (plte == null) 0 else plte.length / 3
    // pass geometry: (xStart, yStart, xStep, yStep) — interlace 0 is one
    // full-frame pass; interlace 1 is the spec's seven Adam7 passes, each
    // an INDEPENDENTLY FILTERED sub-image (prior-row state resets per
    // pass; passes that are empty at this geometry contribute no bytes)
    val passes: Array[(Int, Int, Int, Int)] =
      if (interlace == 0) Array((0, 0, 1, 1))
      else Array((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
    val dims = passes.map { case (xs, ys, xst, yst) =>
      (math.max(0, (w - xs + xst - 1) / xst),
        math.max(0, (h - ys + yst - 1) / yst))
    }
    val rawLen = dims.map { case (wp, hp) =>
      if (wp == 0 || hp == 0) 0 else hp * (1 + wp * bpp)
    }.sum
    val inflater = new java.util.zip.Inflater()
    inflater.setInput(idat.toByteArray)
    val raw = new Array[Byte](rawLen)
    val got = try inflater.inflate(raw) finally inflater.end()
    if (got != raw.length) return None
    val rgb = new Array[Byte](w * h * 3)
    val alpha = new Array[Byte](w * h)
    if (colorType != 4 && colorType != 6)
      java.util.Arrays.fill(alpha, 0xff.toByte) // alpha-less types: opaque
    // per-row adaptive unfiltering (the full filter grammar 0-4: None /
    // Sub / Up / Average / Paeth, reconstructed per the PNG spec §9 —
    // a=left, b=above, c=upper-left, all already-reconstructed bytes)
    var rawOff = 0
    var pass = 0
    while (pass < passes.length) {
      val (xs, ys, xst, yst) = passes(pass)
      val (wp, hp) = dims(pass)
      if (wp > 0 && hp > 0) {
        val rowBytes = wp * bpp
        val prior = new Array[Byte](rowBytes)
        val cur = new Array[Byte](rowBytes)
        java.util.Arrays.fill(prior, 0.toByte)
        var y = 0
        while (y < hp) {
          val rowOff = rawOff + y * (1 + rowBytes)
          val f = raw(rowOff) & 0xff
          if (f > 4) return None // undefined filter type
          var i = 0
          while (i < rowBytes) {
            val xv = raw(rowOff + 1 + i) & 0xff
            val a = if (i >= bpp) cur(i - bpp) & 0xff else 0
            val bu = prior(i) & 0xff
            val c = if (i >= bpp) prior(i - bpp) & 0xff else 0
            val rec = f match {
              case 0 => xv
              case 1 => xv + a
              case 2 => xv + bu
              case 3 => xv + ((a + bu) >> 1)
              case _ => // Paeth predictor
                val p = a + bu - c
                val pa = math.abs(p - a)
                val pb = math.abs(p - bu)
                val pc = math.abs(p - c)
                xv + (if (pa <= pb && pa <= pc) a else if (pb <= pc) bu else c)
            }
            cur(i) = rec.toByte // mod-256 per spec
            i += 1
          }
          var x = 0
          while (x < wp) {
            val px = xs + x * xst
            val py = ys + y * yst
            val o = (py * w + px) * 3
            colorType match {
              case 2 =>
                rgb(o) = cur(3 * x)
                rgb(o + 1) = cur(3 * x + 1)
                rgb(o + 2) = cur(3 * x + 2)
              case 0 =>
                val g = cur(x)
                rgb(o) = g; rgb(o + 1) = g; rgb(o + 2) = g
              case 3 =>
                val idx = cur(x) & 0xff
                if (idx >= nPalette) return None
                rgb(o) = plte(3 * idx)
                rgb(o + 1) = plte(3 * idx + 1)
                rgb(o + 2) = plte(3 * idx + 2)
                if (trns != null && idx < trns.length) alpha(py * w + px) = trns(idx)
              case 4 =>
                val g = cur(2 * x)
                rgb(o) = g; rgb(o + 1) = g; rgb(o + 2) = g
                alpha(py * w + px) = cur(2 * x + 1)
              case 6 =>
                rgb(o) = cur(4 * x)
                rgb(o + 1) = cur(4 * x + 1)
                rgb(o + 2) = cur(4 * x + 2)
                alpha(py * w + px) = cur(4 * x + 3)
            }
            x += 1
          }
          System.arraycopy(cur, 0, prior, 0, rowBytes)
          y += 1
        }
        rawOff += hp * (1 + rowBytes)
      }
      pass += 1
    }
    Some((w, h, rgb, alpha))
  }

  /** Partition-mapped PNG pixel stats — the [[parseAll]] narrow shape. */
  def pngStatsAll(df: DataFrame): Dataset[PngStats] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("file_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          pngPixelStats(bytes) match {
            case Some((w, h, r, g, bl)) => PngStats(id, w, h, r, g, bl, valid = true)
            case None => PngStats(id, 0L, 0L, 0L, 0L, 0L, valid = false)
          }
        }
      }
  }

  /** Complete baseline JPEG (grayscale, all-zero coefficients): SOI,
    * JFIF APP0, DQT, SOF0 carrying the dimensions, DC/AC Huffman tables
    * (one length-1 code each), SOS, the entropy-coded MCUs (2 zero bits
    * per 8x8 block: DC category 0 + EOB), EOI — fully decodable by any
    * conforming reader (the spec cross-checks against the JDK's). */
  def jpegBytes(width: Int, height: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def b(xs: Int*): Unit = xs.foreach(x => out.write(x & 0xff))
    jpegOpen(out)
    b(0xff, 0xc0, 0x00, 0x0b) // SOF0, len 11 (8 + 3*1 components)
    b(0x08, (height >> 8) & 0xff, height & 0xff, (width >> 8) & 0xff, width & 0xff)
    b(0x01, 0x01, 0x11, 0x00) // 1 component: id 1, 1x1 sampling, qtable 0
    for (tableClass <- Seq(0x00, 0x10)) { // DHT: DC table 0, then AC table 0
      b(0xff, 0xc4, 0x00, 0x14, tableClass) // len 20: 16 counts + 1 symbol
      b(0x01); (0 until 15).foreach(_ => b(0x00)) // one code, length 1
      b(0x00) // symbol 0: DC category 0 / AC end-of-block
    }
    b(0xff, 0xda, 0x00, 0x08, 0x01, 0x01, 0x00, 0x00, 0x3f, 0x00) // SOS
    // Entropy data: per MCU, DC symbol 0 (code "0") + EOB (code "0") =
    // two zero bits; final partial byte padded with 1-bits per T.81.
    val mcus = ((width + 7) / 8) * ((height + 7) / 8)
    val bits = mcus * 2
    val rem = bits % 8
    (0 until bits / 8).foreach(_ => b(0x00))
    if (rem != 0) b(0xff >> rem)
    b(0xff, 0xd9) // EOI
    out.toByteArray
  }

  /** Complete PCM WAV (16-bit mono) with `dataBytes` of silence —
    * duration = dataBytes / (sampleRate * 2) seconds. */
  def wavBytes(sampleRate: Int, dataBytes: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(44 + dataBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    bb.put("RIFF".getBytes(ascii)).putInt(36 + dataBytes).put("WAVE".getBytes(ascii))
    bb.put("fmt ".getBytes(ascii)).putInt(16)
      .putShort(1)                       // PCM
      .putShort(1)                       // mono
      .putInt(sampleRate)
      .putInt(sampleRate * 2)            // byte rate (16-bit mono)
      .putShort(2)                       // block align
      .putShort(16)                      // bits per sample
    bb.put("data".getBytes(ascii)).putInt(dataBytes)
    bb.array()
  }

  /** A sampled media frame (see [[sampleFrames]]: real MP4 keyframes
    * when the payload has sample tables, even-slice fallback
    * otherwise — one row in, up to `frames` rows out, a
    * generator/UDTF-style expansion done partition-locally).
    */
  final case class MediaFrame(docId: Long, frameIdx: Int, frame: Array[Byte])

  // -------------------------------------------------------------------
  // Real JPEG entropy decode — the DC-coefficient tier
  // -------------------------------------------------------------------

  /** Canonical JPEG Huffman table built from a DHT segment's 16 length
    * counts + symbol list (ITU T.81 Annex C: codes assigned in symbol
    * order, incrementing within a length, doubled between lengths).
    */
  private final class JpegHuff(counts: Array[Int], symbols: Array[Int]) {
    private val firstCode = new Array[Int](17)
    private val firstIdx = new Array[Int](17)
    locally {
      var code = 0; var idx = 0; var len = 1
      while (len <= 16) {
        firstCode(len) = code; firstIdx(len) = idx
        code += counts(len - 1); idx += counts(len - 1)
        code <<= 1; len += 1
      }
    }
    /** One symbol off the bit reader; -1 on exhausted/invalid input. */
    def decode(br: JpegBits): Int = {
      var code = 0; var len = 0
      while (len < 16) {
        val bit = br.readBit(); if (bit < 0) return -1
        code = (code << 1) | bit; len += 1
        val n = counts(len - 1)
        if (n > 0 && code >= firstCode(len) && code - firstCode(len) < n)
          return symbols(firstIdx(len) + (code - firstCode(len)))
      }
      -1
    }
  }

  /** MSB-first bit reader over entropy-coded data with T.81 §F.1.2.3
    * byte UNstuffing (a 0xFF data byte is followed by a stuffed 0x00;
    * 0xFF followed by anything else is a marker — end of data).
    */
  private final class JpegBits(b: Array[Byte], start: Int) {
    private var pos = start
    private var bit = 0
    def readBit(): Int = {
      if (pos >= b.length) return -1
      val cur = b(pos) & 0xff
      if (cur == 0xff &&
          (pos + 1 >= b.length || (b(pos + 1) & 0xff) != 0x00)) return -1
      val v = (cur >> (7 - bit)) & 1
      bit += 1
      if (bit == 8) { bit = 0; pos += (if (cur == 0xff) 2 else 1) }
      v
    }
    /** Byte-align (discarding T.81 padding bits) and consume the
      * expected RSTn restart marker; false on anything else.
      */
    def consumeRst(n: Int): Boolean = {
      if (bit != 0) {
        val cur = b(pos) & 0xff
        bit = 0
        pos += (if (cur == 0xff) 2 else 1)
      }
      if (pos + 1 >= b.length) return false
      if ((b(pos) & 0xff) != 0xff ||
          (b(pos + 1) & 0xff) != (0xd0 + (n & 7))) return false
      pos += 2
      true
    }
    /** Byte position of the next marker after the entropy data consumed
      * so far (skips the T.81 padding bits of a partially-read byte).
      * -1 if the padding byte would run off the buffer.
      */
    def nextMarkerPos: Int = {
      if (bit == 0) pos
      else if (pos >= b.length) -1
      else pos + (if ((b(pos) & 0xff) == 0xff) 2 else 1)
    }
  }

  /** REAL baseline-JPEG DC decode (the tier between SOFn header dims
    * and full IDCT pixels): walks the marker segments (DQT quant table,
    * DHT canonical Huffman tables, SOF0 frame, SOS), then
    * entropy-decodes every MCU — DC category via Huffman, T.81
    * difference extension, cumulative DC, AC (run, size) symbols
    * consumed to EOB — folding exact integer stats over the DEQUANTIZED
    * DC coefficients. For a DC-only block the spatial mean is exactly
    * `128 + dcq/8` (all AC basis functions are zero-mean), so the DC
    * tier already yields per-block brightness without an IDCT.
    * Returns (width, height, nBlocks, sumDcq, minDcq, maxDcq) over the
    * LUMA channel (nBlocks counts the entropy stream's Y blocks,
    * including spec-mandated edge padding blocks). Accepts 8-bit
    * baseline sequential with 8-bit quant tables: single-component
    * (grayscale) 1x1, and 3-component (YCbCr) with luma sampling
    * factors h,v in {1,2} against 1x1 chroma — 4:4:4 (1x1), 4:2:0
    * (2x2), 4:2:2 (2x1), 4:4:0 (1x2) — plus 4:1:1 (4x1 luma) — chroma
    * blocks are entropy-consumed with their own Huffman tables and DC
    * predictors, stats fold Y only — and DRI restart intervals
    * (byte-align at each RSTn, reset DC predictors). None for
    * everything else (arithmetic coding, 1x4 / supersampled-chroma
    * layouts; progressive streams decode via the DC first scan — see
    * SOF2 handling below) — reject, never mis-decode.
    */
  def jpegDcStats(b: Array[Byte]): Option[(Long, Long, Long, Long, Long, Long)] =
    // A truncated/malformed segment must land in the valid=false row,
    // not throw out of the task: any OOB read rejects.
    try jpegDcStatsImpl(b)
    catch { case scala.util.control.NonFatal(_) => None }

  private def jpegDcStatsImpl(
      b: Array[Byte]): Option[(Long, Long, Long, Long, Long, Long)] = {
    if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return None
    var pos = 2
    val qDc = Array.fill(4)(-1) // DC quant value per 8-bit table id
    val huffs = Array.ofDim[JpegHuff](2, 4) // (class dc=0/ac=1, table id)
    var w = 0; var h = 0
    var nComp = 0
    val sofId = new Array[Int](3)
    val compSamp = new Array[Int](3)
    val compTq = new Array[Int](3)
    val compTd = new Array[Int](3)
    val compTa = new Array[Int](3)
    var restartInterval = 0
    var progressive = false
    var scanSs = -1; var scanSe = -1; var scanAh = -1; var scanAl = -1
    var sosAt = -1
    while (sosAt < 0) {
      if (pos + 4 > b.length || (b(pos) & 0xff) != 0xff) return None
      val m = b(pos + 1) & 0xff
      if (m == 0xd9) return None // EOI before SOS
      val len = be16(b, pos + 2)
      val seg = pos + 4
      if (pos + 2 + len > b.length) return None
      m match {
        case 0xdb => // DQT (possibly several tables per segment)
          var p = seg
          while (p < pos + 2 + len) {
            if (p + 65 > pos + 2 + len) return None // truncated table
            if (((b(p) & 0xff) >> 4) != 0) return None // 16-bit table
            if ((b(p) & 0x0f) > 3) return None // invalid table id
            qDc(b(p) & 0x0f) = b(p + 1) & 0xff
            p += 1 + 64
          }
        case 0xc4 => // DHT (possibly several tables per segment)
          var p = seg
          while (p < pos + 2 + len) {
            if (p + 17 > pos + 2 + len) return None // truncated table
            val tc = (b(p) & 0xff) >> 4
            val th = b(p) & 0x0f
            if (tc > 1 || th > 3) return None // invalid class/table id
            val counts = Array.tabulate(16)(i => b(p + 1 + i) & 0xff)
            val n = counts.sum
            if (p + 17 + n > pos + 2 + len) return None // truncated symbols
            val symbols = Array.tabulate(n)(i => b(p + 17 + i) & 0xff)
            huffs(tc)(th) = new JpegHuff(counts, symbols)
            p += 17 + n
          }
        case 0xc0 | 0xc2 => // SOF0 baseline / SOF2 progressive (DC-scan tier)
          progressive = m == 0xc2
          if ((b(seg) & 0xff) != 8) return None
          h = be16(b, seg + 1); w = be16(b, seg + 3)
          nComp = b(seg + 5) & 0xff
          if (nComp != 1 && nComp != 3) return None
          if (len < 8 + 3 * nComp) return None // truncated frame header
          var c = 0
          while (c < nComp) {
            sofId(c) = b(seg + 6 + 3 * c) & 0xff
            compSamp(c) = b(seg + 7 + 3 * c) & 0xff
            compTq(c) = b(seg + 8 + 3 * c) & 0xff
            if (compTq(c) > 3) return None
            c += 1
          }
          // accepted sampling layouts: grayscale 1x1; color with 1x1
          // chroma and luma factors h,v in {1,2} — 4:4:4 (1x1), 4:2:2
          // (2x1), 4:4:0 (1x2), 4:2:0 (2x2) — plus 4:1:1 (4x1, the
          // remaining common camera layout; the MCU loop is generic in
          // h x v so only this acceptance gates it). Anything else
          // (1x4, supersampled chroma, 3x1, ...) rejects, never
          // mis-decodes.
          val h0 = (compSamp(0) >> 4) & 0xf
          val v0 = compSamp(0) & 0xf
          val ok =
            (nComp == 1 && compSamp(0) == 0x11) ||
            (nComp == 3 && compSamp(1) == 0x11 && compSamp(2) == 0x11 &&
              ((h0 >= 1 && h0 <= 2 && v0 >= 1 && v0 <= 2) ||
                (h0 == 4 && v0 == 1)))
          if (!ok) return None
        case 0xc1 | 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca |
            0xcb | 0xcd | 0xce | 0xcf =>
          return None // extended/arithmetic/hierarchical frames
        case 0xdd => // DRI: restart interval in MCUs
          if (len < 4) return None
          restartInterval = be16(b, seg)
        case _ => () // APPn / COM
      }
      if (m == 0xda) {
        // SOS header: per-component entropy table bindings, in SOF order
        val ns = b(seg) & 0xff
        if (nComp == 0 || ns != nComp || len < 6 + 2 * ns) return None
        var c = 0
        while (c < ns) {
          if ((b(seg + 1 + 2 * c) & 0xff) != sofId(c)) return None
          compTd(c) = (b(seg + 2 + 2 * c) & 0xff) >> 4
          compTa(c) = b(seg + 2 + 2 * c) & 0x0f
          if (compTd(c) > 3 || compTa(c) > 3) return None
          c += 1
        }
        scanSs = b(seg + 1 + 2 * ns) & 0xff
        scanSe = b(seg + 2 + 2 * ns) & 0xff
        val aa = b(seg + 3 + 2 * ns) & 0xff
        scanAh = (aa >> 4) & 0xf
        scanAl = aa & 0xf
        sosAt = pos + 2 + len
      } else pos += 2 + len
    }
    if (w <= 0 || h <= 0) return None
    // scan-progression contract: a baseline scan is always the full
    // spectrum at full precision; a progressive stream's FIRST scan must
    // be the DC first scan (T.81 G.1.1.1.1 — DC precedes all AC)
    if (!progressive && (scanSs != 0 || scanSe != 63 || scanAh != 0 || scanAl != 0))
      return None
    if (progressive && (scanSs != 0 || scanSe != 0 || scanAh != 0 || scanAl > 13))
      return None
    val qY = qDc(compTq(0))
    if (qY <= 0) return None
    var cc = 0
    while (cc < nComp) {
      // progressive DC scans code no AC symbols, so only the DC tables
      // must exist up front (AC tables may arrive before later AC scans)
      if (huffs(0)(compTd(cc)) == null ||
          (!progressive && huffs(1)(compTa(cc)) == null))
        return None
      cc += 1
    }
    // MCU geometry: each MCU carries h0*v0 luma blocks (row-major) then
    // one Cb and one Cr. Stats fold the LUMA channel (including the
    // spec-mandated edge padding blocks the entropy stream contains);
    // chroma blocks are fully entropy-consumed with their OWN Huffman
    // tables and DC predictors (interleaving desyncs otherwise).
    // Restart intervals byte-align at each RSTn and reset every DC
    // predictor, per T.81 §F.2.1.3.1.
    val hs = if (nComp == 3) (compSamp(0) >> 4) & 0xf else 1
    val vs = if (nComp == 3) compSamp(0) & 0xf else 1
    val mcusX = ((w + 8 * hs - 1) / (8 * hs)).toLong
    val mcusY = ((h + 8 * vs - 1) / (8 * vs)).toLong
    val nMcus = mcusX * mcusY
    val nb = nMcus * hs * vs // luma blocks, edge pads included
    if (progressive)
      return jpegProgressiveDc(b, sosAt, scanAl, huffs, qY, compTq(0),
        nComp, compTd, hs, vs, nMcus, nb, restartInterval, w, h)
    val br = new JpegBits(b, sosAt)
    var sum = 0L
    var mn = Long.MaxValue
    var mx = Long.MinValue
    val ok = jpegDcMcus(br, huffs, compTd, nComp, hs, vs, nMcus,
        restartInterval) { (ci, dc) =>
      if (ci == 0) {
        val dq = dc * qY
        sum += dq
        mn = math.min(mn, dq)
        mx = math.max(mx, dq)
      }
      // skip the block's AC coefficients
      var k = 1
      var eob = false
      var bad = false
      val ac = huffs(1)(compTa(ci))
      while (!bad && !eob && k <= 63) {
        val sym = ac.decode(br)
        if (sym < 0) bad = true
        else if (sym == 0x00) eob = true // EOB
        else if (sym == 0xf0) k += 16 // ZRL
        else {
          k += (sym >> 4) + 1
          var i = 0
          while (!bad && i < (sym & 0x0f)) {
            if (br.readBit() < 0) bad = true
            i += 1
          }
        }
      }
      !bad
    }
    if (ok) Some((w.toLong, h.toLong, nb, sum, mn, mx)) else None
  }

  /** Walk `nMcus` interleaved MCUs of a Huffman-coded DC scan from `br`.
    * Each MCU holds hs*vs luma blocks (row-major), then one block per
    * chroma component. At every restart interval the stream
    * byte-aligns at its RSTn and every DC predictor resets (T.81
    * §F.2.1.3.1). Per block, the DC difference (a Huffman category,
    * then that many bits through T.81 §F.2.2.1 EXTEND) is added to the
    * component's predictor, and `onBlock(ci, dc)` receives the new
    * value; it consumes whatever else the block codes and returns
    * false to reject. False on a malformed stream.
    */
  private def jpegDcMcus(br: JpegBits, huffs: Array[Array[JpegHuff]],
      compTd: Array[Int], nComp: Int, hs: Int, vs: Int, nMcus: Long,
      restartInterval: Int)(onBlock: (Int, Long) => Boolean): Boolean = {
    val dcPred = new Array[Long](3)
    var rstCount = 0
    var m0 = 0L
    while (m0 < nMcus) {
      if (restartInterval > 0 && m0 > 0 && m0 % restartInterval == 0) {
        if (!br.consumeRst(rstCount)) return false
        rstCount += 1
        java.util.Arrays.fill(dcPred, 0L)
      }
      var ci = 0
      while (ci < nComp) {
        val nBlk = if (ci == 0) hs * vs else 1
        var blk = 0
        while (blk < nBlk) {
          val cat = huffs(0)(compTd(ci)).decode(br)
          if (cat < 0 || cat > 11) return false
          var diff = 0L
          if (cat > 0) {
            var bits = 0L; var i = 0
            while (i < cat) {
              val v = br.readBit(); if (v < 0) return false
              bits = (bits << 1) | v; i += 1
            }
            // EXTEND: low-range values are negatives
            diff = if (bits < (1L << (cat - 1))) bits - (1L << cat) + 1
              else bits
          }
          dcPred(ci) += diff
          if (!onBlock(ci, dcPred(ci))) return false
          blk += 1
        }
        ci += 1
      }
      m0 += 1
    }
    true
  }

  /** Progressive (SOF2) DC-tier walk — T.81 G.1/G.2: decodes the DC
    * FIRST scan (Huffman category + EXTEND diffs of the
    * point-transformed DC, interleaved over all components — the
    * libjpeg standard scan script's shape) and every DC REFINEMENT scan
    * (one raw correction bit per block, OR-ed in at bit Al — exact for
    * two's-complement arithmetic-shifted values, T.81 G.1.2.1), and
    * SKIPS AC scans entirely: spectral selection means Ss>=1 scans
    * never touch DC, so their entropy data is skipped to the next
    * marker through the 0xFF00-stuffing/RSTn grammar without decoding.
    * DHT/DRI segments between scans update tables / the restart
    * interval. Rejects unless the refinement chain completes to Al=0 by
    * EOI — a truncated progressive stream's DC low bits are unknown,
    * and the contract is reject-never-mis-decode (same posture as the
    * AC refinement tiers this function does not attempt).
    */
  private def jpegProgressiveDc(
      b: Array[Byte], firstScanAt: Int, firstAl: Int,
      huffs: Array[Array[JpegHuff]], qY: Int, lumaTq: Int, nComp: Int,
      compTd: Array[Int], hs: Int, vs: Int, nMcus: Long, nb: Long,
      restartInterval0: Int,
      w: Int, h: Int): Option[(Long, Long, Long, Long, Long, Long)] = {
    // crafted-dimension guard: the per-block DC store (needed to apply
    // refinement bits) is the one allocation baseline doesn't make;
    // 16M luma blocks (a 32768x32768 px 4:4:4 frame) is far past any
    // real photograph
    if (nb <= 0 || nb > (1L << 24)) return None
    var restartInterval = restartInterval0
    val dcY = new Array[Long](nb.toInt)
    // ---- DC first scan (diffs of DC >> Al, interleaved) ----
    val br = new JpegBits(b, firstScanAt)
    var yIdx = 0
    val firstOk = jpegDcMcus(br, huffs, compTd, nComp, hs, vs, nMcus,
        restartInterval) { (ci, dc) =>
      if (ci == 0) { dcY(yIdx) = dc << firstAl; yIdx += 1 }
      true
    }
    if (!firstOk) return None
    // ---- subsequent scans until EOI ----
    var curAl = firstAl // low bits still unrefined
    var p = br.nextMarkerPos
    if (p < 0) return None
    var done = false
    while (!done) {
      if (p + 2 > b.length || (b(p) & 0xff) != 0xff) return None
      val m = b(p + 1) & 0xff
      if (m == 0xd9) done = true // EOI
      else if (m == 0xda) {
        if (p + 4 > b.length) return None
        val len = be16(b, p + 2)
        val seg = p + 4
        if (p + 2 + len > b.length) return None
        val ns = b(seg) & 0xff
        if (ns < 1 || ns > nComp || len < 6 + 2 * ns) return None
        val ss = b(seg + 1 + 2 * ns) & 0xff
        val se = b(seg + 2 + 2 * ns) & 0xff
        val aa = b(seg + 3 + 2 * ns) & 0xff
        val ah = (aa >> 4) & 0xf
        val al = aa & 0xf
        val scanStart = p + 2 + len
        if (ss == 0 && se == 0) {
          // DC refinement: interleaved over all components, one raw bit
          // per block; successive approximation must chain down by one
          if (ns != nComp || ah != curAl || al != ah - 1) return None
          val br2 = new JpegBits(b, scanStart)
          var rst2 = 0
          var yI = 0
          var mm = 0L
          while (mm < nMcus) {
            if (restartInterval > 0 && mm > 0 && mm % restartInterval == 0) {
              if (!br2.consumeRst(rst2)) return None
              rst2 += 1
            }
            var ci = 0
            while (ci < nComp) {
              val nBlk = if (ci == 0) hs * vs else 1
              var blk = 0
              while (blk < nBlk) {
                val v = br2.readBit(); if (v < 0) return None
                if (ci == 0) {
                  if (v == 1) dcY(yI) |= (1L << al)
                  yI += 1
                }
                blk += 1
              }
              ci += 1
            }
            mm += 1
          }
          curAl = al
          p = br2.nextMarkerPos
          if (p < 0) return None
        } else if (ss >= 1 && ss <= se && se <= 63 && ns == 1) {
          // AC scan (T.81 mandates single-component): it never touches
          // DC — skip its entropy data to the next marker through the
          // stuffing/restart grammar, no decode needed
          var q = scanStart
          var found = -1
          while (found < 0 && q + 1 < b.length) {
            if ((b(q) & 0xff) == 0xff) {
              val nxt = b(q + 1) & 0xff
              if (nxt == 0x00 || (nxt >= 0xd0 && nxt <= 0xd7)) q += 2
              else found = q
            } else q += 1
          }
          if (found < 0) return None
          p = found
        } else return None
      } else if (m >= 0xd0 && m <= 0xd7) {
        return None // stray restart marker between scans
      } else if (m == 0x01 || m == 0xd8) {
        return None // TEM / second SOI
      } else {
        if (p + 4 > b.length) return None
        val len = be16(b, p + 2)
        val seg = p + 4
        if (len < 2 || p + 2 + len > b.length) return None
        m match {
          case 0xc4 => // DHT between scans: tables for later scans
            var q = seg
            while (q < p + 2 + len) {
              if (q + 17 > p + 2 + len) return None
              val tc = (b(q) & 0xff) >> 4
              val th = b(q) & 0x0f
              if (tc > 1 || th > 3) return None
              val counts = Array.tabulate(16)(i => b(q + 1 + i) & 0xff)
              val n = counts.sum
              if (q + 17 + n > p + 2 + len) return None
              val symbols = Array.tabulate(n)(i => b(q + 17 + i) & 0xff)
              huffs(tc)(th) = new JpegHuff(counts, symbols)
              q += 17 + n
            }
          case 0xdd => // DRI between scans: new interval for later scans
            if (len < 4) return None
            restartInterval = be16(b, seg)
          case 0xdb =>
            // DQT between scans: T.81 forbids redefining a table the
            // frame already used — accept a no-op redefinition, reject
            // one that would change the luma DC dequant
            var q = seg
            while (q < p + 2 + len) {
              if (q + 65 > p + 2 + len) return None
              if (((b(q) & 0xff) >> 4) != 0) return None
              if ((b(q) & 0x0f) > 3) return None
              if ((b(q) & 0x0f) == lumaTq && (b(q + 1) & 0xff) != qY)
                return None
              q += 1 + 64
            }
          case 0xc0 | 0xc1 | 0xc2 | 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 |
              0xca | 0xcb | 0xcd | 0xce | 0xcf =>
            return None // a second frame header
          case _ => () // APPn / COM / DNL
        }
        p += 2 + len
      }
    }
    // a refinement chain that stops above Al=0 leaves the true DC
    // unknown at the low bits: reject, never guess
    if (curAl != 0) return None
    var sum = 0L
    var mn = Long.MaxValue
    var mx = Long.MinValue
    var i = 0
    while (i < nb.toInt) {
      val dq = dcY(i) * qY
      sum += dq
      if (dq < mn) mn = dq
      if (dq > mx) mx = dq
      i += 1
    }
    Some((w.toLong, h.toLong, nb, sum, mn, mx))
  }

  final case class JpegDcRow(
      fileId: Long, width: Long, height: Long, nBlocks: Long,
      sumDcq: Long, minDcq: Long, maxDcq: Long, valid: Boolean)

  /** Partition-mapped JPEG DC stats — the [[parseAll]] narrow shape. */
  def jpegDcAll(df: DataFrame): Dataset[JpegDcRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("file_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          jpegDcStats(bytes) match {
            case Some((w, h, nb, s, mn, mx)) =>
              JpegDcRow(id, w, h, nb, s, mn, mx, valid = true)
            case None => JpegDcRow(id, 0L, 0L, 0L, 0L, 0L, 0L, valid = false)
          }
        }
      }
  }

  /** SOI, JFIF APP0 and DQT table 0 with all 64 entries 16: the opening
    * every JPEG fixture writer shares. */
  private def jpegOpen(out: java.io.ByteArrayOutputStream): Unit = {
    def b(xs: Int*): Unit = xs.foreach(x => out.write(x & 0xff))
    b(0xff, 0xd8) // SOI
    b(0xff, 0xe0, 0x00, 0x10) // APP0 JFIF, len 16
    b('J', 'F', 'I', 'F', 0x00, 0x01, 0x01, 0x00, 0x00, 0x01, 0x00, 0x01, 0x00, 0x00)
    b(0xff, 0xdb, 0x00, 0x43, 0x00) // DQT: 8-bit table 0, all 16s
    (0 until 64).foreach(_ => b(0x10))
  }

  /** DHT segment `tc` (class << 4 | id) of six length-3 codes, assigned
    * to `symbols` in order. */
  private def jpegDht6(out: java.io.ByteArrayOutputStream, tc: Int,
      symbols: Seq[Int]): Unit = {
    Seq(0xff, 0xc4, 0x00, 0x19, tc, 0x00, 0x00, 0x06).foreach(out.write)
    (0 until 13).foreach(_ => out.write(0x00))
    symbols.foreach(x => out.write(x & 0xff))
  }

  /** The T.81 entropy-segment writer the JPEG pattern fixtures share:
    * bits MSB-first into `out`, a 0x00 stuffed after every 0xFF data
    * byte, the last partial byte padded with 1-bits, restart markers
    * written raw. */
  private final class JpegBitWriter(out: java.io.ByteArrayOutputStream) {
    private var cur = 0
    private var nbits = 0

    private def flushByte(): Unit = {
      out.write(cur)
      if (cur == 0xff) out.write(0x00) // T.81 byte stuffing
      cur = 0; nbits = 0
    }

    def putBits(v: Long, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        cur = (cur << 1) | ((v >> i) & 1L).toInt
        nbits += 1
        if (nbits == 8) flushByte()
        i -= 1
      }
    }

    /** Byte-align: pad the partial byte with 1-bits per T.81. */
    def pad(): Unit =
      if (nbits > 0) {
        while (nbits < 8) { cur = (cur << 1) | 1; nbits += 1 }
        flushByte()
      }

    /** One DC difference: the 3-bit Huffman code `dcCode(category)`,
      * then the category's magnitude bits. */
    def putDiff(diff: Int, dcCode: Int => Long): Unit = {
      val c =
        if (diff == 0) 0
        else 64 - java.lang.Long.numberOfLeadingZeros(math.abs(diff).toLong)
      putBits(dcCode(c), 3)
      if (c > 0)
        putBits(if (diff >= 0) diff.toLong else diff.toLong + (1L << c) - 1, c)
    }

    /** Byte-align, then the marker RST(n mod 8). */
    def restart(n: Int): Unit = {
      pad()
      out.write(0xff); out.write(0xd0 + (n % 8))
    }
  }

  /** Baseline grayscale JPEG whose 8x8 blocks carry the deterministic
    * quantized-DC pattern `d(j) = ((7*j) mod 32) - 16` (row-major MCU
    * index j), AC all-EOB — the JPEG analog of [[pngGradientBytes]]: a
    * spec-valid entropy-coded stream (canonical 6-symbol DC Huffman
    * over categories 0-5 — all codes length 3, so code(cat) = cat —
    * T.81 difference coding, 0xFF byte stuffing) whose DC-tier decode
    * has a closed-form oracle. Q(DC) = 16, so the dequantized DC is
    * `16*d(j)` and every block's spatial mean is exactly `128 + 2*d(j)`
    * (JpegDcSpec cross-checks that against the JDK's own full decode).
    */
  def jpegDcPatternBytes(width: Int, height: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def b(xs: Int*): Unit = xs.foreach(x => out.write(x & 0xff))
    jpegOpen(out)
    b(0xff, 0xc0, 0x00, 0x0b) // SOF0, 1 component
    b(0x08, (height >> 8) & 0xff, height & 0xff, (width >> 8) & 0xff, width & 0xff)
    b(0x01, 0x01, 0x11, 0x00)
    jpegDht6(out, 0x00, 0 to 5) // DC 0: code(cat) = cat
    b(0xff, 0xc4, 0x00, 0x14, 0x10) // DHT AC 0: one length-1 code, symbol EOB
    b(0x01); (0 until 15).foreach(_ => b(0x00))
    b(0x00)
    b(0xff, 0xda, 0x00, 0x08, 0x01, 0x01, 0x00, 0x00, 0x3f, 0x00) // SOS
    val w = new JpegBitWriter(out)
    val nb = ((width + 7) / 8) * ((height + 7) / 8)
    var prev = 0
    var j = 0
    while (j < nb) {
      val d = ((7 * j) % 32) - 16
      w.putDiff(d - prev, c => c.toLong)
      prev = d
      w.putBits(0L, 1) // AC EOB
      j += 1
    }
    w.pad()
    b(0xff, 0xd9) // EOI
    out.toByteArray
  }

  /** The four Huffman tables of the 3-component baseline fixtures: DC
    * 0 with code(cat) = cat, DC 1 the reverse-symbol code
    * (code(cat) = 5 - cat), AC 0 a length-1 EOB, AC 1 a length-2 EOB. */
  private def jpegChromaTables(out: java.io.ByteArrayOutputStream): Unit = {
    def b(xs: Int*): Unit = xs.foreach(x => out.write(x & 0xff))
    jpegDht6(out, 0x00, 0 to 5)
    jpegDht6(out, 0x01, (0 to 5).map(5 - _))
    b(0xff, 0xc4, 0x00, 0x14, 0x10) // DHT AC 0: one len-1 code, EOB
    b(0x01); (0 until 15).foreach(_ => b(0x00))
    b(0x00)
    b(0xff, 0xc4, 0x00, 0x14, 0x11) // DHT AC 1: one len-2 code, EOB
    b(0x00, 0x01); (0 until 14).foreach(_ => b(0x00))
    b(0x00)
  }

  /** 3-component (YCbCr) baseline JPEG twin of [[jpegDcPatternBytes]]:
    * the luma channel carries the same deterministic quantized-DC
    * pattern `d(j) = ((7*j) mod 32) - 16` (so the DC-tier LUMA stats
    * have the same closed-form oracle), while the chroma channels bind
    * their OWN Huffman tables — DC table 1 is the REVERSE-symbol
    * canonical code (code(cat) = 5 - cat) and AC table 1 a length-2
    * EOB — so a decoder that mistakenly reads chroma with the luma
    * tables desyncs immediately instead of silently passing. With
    * `chromaMotion` the Cb predictor alternates +-4 and Cr steps -8
    * once (nonzero categories through the chroma path); without it all
    * chroma diffs are 0, the decoded image is exactly grayscale
    * (Cb = Cr = 128), and the JDK cross-check can compare RGB means
    * against `128 + 2*d(j)` with zero color-convert error.
    */
  def jpegDcColorPatternBytes(width: Int, height: Int,
      chromaMotion: Boolean): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def b(xs: Int*): Unit = xs.foreach(x => out.write(x & 0xff))
    jpegOpen(out)
    b(0xff, 0xc0, 0x00, 0x11) // SOF0, 3 components, 1x1 sampling, all q0
    b(0x08, (height >> 8) & 0xff, height & 0xff, (width >> 8) & 0xff, width & 0xff)
    b(0x03, 0x01, 0x11, 0x00, 0x02, 0x11, 0x00, 0x03, 0x11, 0x00)
    jpegChromaTables(out)
    // SOS: Y -> tables (0,0); Cb, Cr -> tables (1,1)
    b(0xff, 0xda, 0x00, 0x0c, 0x03, 0x01, 0x00, 0x02, 0x11, 0x03, 0x11,
      0x00, 0x3f, 0x00)
    val w = new JpegBitWriter(out)
    val nb = ((width + 7) / 8) * ((height + 7) / 8)
    var prevY = 0
    var prevCb = 0
    var prevCr = 0
    var j = 0
    while (j < nb) {
      val dY = ((7 * j) % 32) - 16
      w.putDiff(dY - prevY, c => c.toLong) // Y: DC table 0 code = cat
      prevY = dY
      w.putBits(0L, 1) // Y AC EOB (table 0, len 1)
      val dCb = if (chromaMotion && j % 2 == 1) 4 else 0
      w.putDiff(dCb - prevCb, c => (5 - c).toLong) // Cb: DC table 1 code = 5-cat
      prevCb = dCb
      w.putBits(0L, 2) // Cb AC EOB (table 1, len 2, code 00)
      val dCr = if (chromaMotion) -8 else 0
      w.putDiff(dCr - prevCr, c => (5 - c).toLong)
      prevCr = dCr
      w.putBits(0L, 2) // Cr AC EOB
      j += 1
    }
    w.pad()
    b(0xff, 0xd9) // EOI
    out.toByteArray
  }

  /** Subsampled baseline JPEG with optional RESTART intervals — 4:2:0
    * (samp=0x22, the dominant camera/web layout; the default), 4:2:2
    * (0x21) or 4:4:0 (0x12) — as a closed-form fixture: each MCU
    * carries h*v Y blocks row-major (global Y block index j in MCU
    * raster order carries the [[jpegDcPatternBytes]]
    * quantized-DC pattern d(j)) then one Cb and one Cr block bound to
    * the chroma-only tables of [[jpegDcColorPatternBytes]] with zero DC
    * motion (so decoded RGB == Y exactly). With `restartEvery > 0` a
    * DRI segment is emitted and every `restartEvery` MCUs the entropy
    * stream byte-aligns, emits RST0..7 cyclically, and resets all DC
    * predictors — the closed form is restart-invariant because d(j) is
    * absolute (each segment's first diff rebuilds it from the reset
    * predictor).
    */
  def jpegDcSubPatternBytes(width: Int, height: Int,
      restartEvery: Int, samp: Int = 0x22): Array[Byte] = {
    val sh = (samp >> 4) & 0xf
    val sv = samp & 0xf
    val out = new java.io.ByteArrayOutputStream()
    def b(xs: Int*): Unit = xs.foreach(x => out.write(x & 0xff))
    jpegOpen(out)
    if (restartEvery > 0)
      b(0xff, 0xdd, 0x00, 0x04, (restartEvery >> 8) & 0xff, restartEvery & 0xff)
    b(0xff, 0xc0, 0x00, 0x11) // SOF0, 3 components, Y 2x2 / chroma 1x1
    b(0x08, (height >> 8) & 0xff, height & 0xff, (width >> 8) & 0xff, width & 0xff)
    b(0x03, 0x01, samp, 0x00, 0x02, 0x11, 0x00, 0x03, 0x11, 0x00)
    jpegChromaTables(out)
    b(0xff, 0xda, 0x00, 0x0c, 0x03, 0x01, 0x00, 0x02, 0x11, 0x03, 0x11,
      0x00, 0x3f, 0x00) // SOS: Y -> (0,0); Cb, Cr -> (1,1)
    val w = new JpegBitWriter(out)
    val mcusX = (width + 8 * sh - 1) / (8 * sh)
    val mcusY = (height + 8 * sv - 1) / (8 * sv)
    var prevY = 0
    var prevCb = 0
    var prevCr = 0
    var rst = 0
    var m = 0
    while (m < mcusX * mcusY) {
      if (restartEvery > 0 && m > 0 && m % restartEvery == 0) {
        w.restart(rst)
        rst += 1
        prevY = 0; prevCb = 0; prevCr = 0
      }
      var sub = 0
      while (sub < sh * sv) { // h*v Y blocks per MCU, row-major
        val dY = ((7 * (m * sh * sv + sub)) % 32) - 16
        w.putDiff(dY - prevY, c => c.toLong)
        prevY = dY
        w.putBits(0L, 1) // Y AC EOB
        sub += 1
      }
      w.putDiff(0 - prevCb, c => (5 - c).toLong); prevCb = 0
      w.putBits(0L, 2) // Cb AC EOB
      w.putDiff(0 - prevCr, c => (5 - c).toLong); prevCr = 0
      w.putBits(0L, 2) // Cr AC EOB
      m += 1
    }
    w.pad()
    b(0xff, 0xd9) // EOI
    out.toByteArray
  }

  /** PROGRESSIVE (SOF2) JPEG fixture with the libjpeg-class scan
    * script: an interleaved DC FIRST scan at successive-approximation
    * Al=1 (coding diffs of the arithmetic-shifted `d(j) >> 1`), three
    * single-component AC first scans (Ss=1..63, all-zero AC coded as
    * EOB runs — the scans a DC-tier decoder must SKIP through the
    * stuffing/restart grammar), and a final interleaved DC REFINEMENT
    * scan (Ah=1, Al=0) carrying each block's low bit `d(j) & 1` raw.
    * The luma channel carries the same closed-form quantized-DC pattern
    * `d(j) = ((7*j) mod 32) - 16` as every other tier (arithmetic-shift
    * + OR reconstruction is exact in two's complement, so the oracle is
    * unchanged); chroma is zero through its own reverse-coded DC table.
    * With `restartEvery > 0` every scan restarts per DRI — markers
    * renumber from RST0 at each scan start per T.81 — so a decoder that
    * forgets per-scan marker renumbering or skips AC restart markers
    * wrongly hash-fails. 3 components, 1x1 sampling.
    */
  def jpegDcProgPatternBytes(width: Int, height: Int,
      restartEvery: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def b(xs: Int*): Unit = xs.foreach(x => out.write(x & 0xff))
    jpegOpen(out)
    if (restartEvery > 0)
      b(0xff, 0xdd, 0x00, 0x04, (restartEvery >> 8) & 0xff, restartEvery & 0xff)
    b(0xff, 0xc2, 0x00, 0x11) // SOF2 progressive, 3 components, 1x1
    b(0x08, (height >> 8) & 0xff, height & 0xff, (width >> 8) & 0xff, width & 0xff)
    b(0x03, 0x01, 0x11, 0x00, 0x02, 0x11, 0x00, 0x03, 0x11, 0x00)
    jpegDht6(out, 0x00, 0 to 5) // DC 0: code(cat) = cat
    jpegDht6(out, 0x01, (0 to 5).map(5 - _)) // DC 1: code(cat) = 5 - cat
    // AC 0: six len-3 codes for the EOBn symbols 0x00..0x50
    // (EOB runs of 1, 2-3, 4-7, 8-15, 16-31, 32-63 blocks)
    jpegDht6(out, 0x10, (0 to 5).map(_ << 4))
    val w = new JpegBitWriter(out)
    val nb = ((width + 7) / 8) * ((height + 7) / 8)
    def d(j: Int): Int = ((7 * j) % 32) - 16
    // ---- scan 1: DC first, interleaved, Ah=0 Al=1 ----
    b(0xff, 0xda, 0x00, 0x0c, 0x03, 0x01, 0x00, 0x02, 0x10, 0x03, 0x10,
      0x00, 0x00, 0x01)
    var prevY = 0
    var rst = 0
    var j = 0
    while (j < nb) {
      if (restartEvery > 0 && j > 0 && j % restartEvery == 0) {
        w.restart(rst); rst += 1
        prevY = 0 // chroma predictors are already 0
      }
      val v = d(j) >> 1 // arithmetic shift: the point-transformed DC
      w.putDiff(v - prevY, c => c.toLong)
      prevY = v
      w.putDiff(0, c => (5 - c).toLong) // Cb (predictor stays 0)
      w.putDiff(0, c => (5 - c).toLong) // Cr
      j += 1
    }
    w.pad()
    // ---- scans 2-4: AC first per component, Ss=1 Se=63, all-zero AC ----
    var comp = 1
    while (comp <= 3) {
      b(0xff, 0xda, 0x00, 0x08, 0x01, comp, 0x00, 0x01, 0x3f, 0x00)
      var rstA = 0
      var left = nb
      while (left > 0) {
        val segLen =
          if (restartEvery > 0) math.min(left, restartEvery) else left
        // cover the segment with EOB runs (run = 2^k + k extra bits)
        var seg = segLen
        while (seg > 0) {
          val chunk = math.min(seg, 63)
          val k = 31 - java.lang.Integer.numberOfLeadingZeros(chunk)
          w.putBits(k.toLong, 3) // the EOBn symbol's len-3 code
          if (k > 0) w.putBits((chunk - (1 << k)).toLong, k)
          seg -= chunk
        }
        left -= segLen
        if (restartEvery > 0 && left > 0) { w.restart(rstA); rstA += 1 }
      }
      w.pad()
      comp += 1
    }
    // ---- scan 5: DC refinement, interleaved, Ah=1 Al=0 ----
    b(0xff, 0xda, 0x00, 0x0c, 0x03, 0x01, 0x00, 0x02, 0x10, 0x03, 0x10,
      0x00, 0x00, 0x10)
    var rstR = 0
    j = 0
    while (j < nb) {
      if (restartEvery > 0 && j > 0 && j % restartEvery == 0) {
        w.restart(rstR); rstR += 1
      }
      w.putBits((d(j) & 1).toLong, 1) // Y low bit
      w.putBits(0L, 1) // Cb correction bit
      w.putBits(0L, 1) // Cr correction bit
      j += 1
    }
    w.pad()
    b(0xff, 0xd9) // EOI
    out.toByteArray
  }

  // ---------------------------------------------------------------------
  // GIF (LZW) pixel-index statistics — the second real codec family
  // ---------------------------------------------------------------------

  /** REAL GIF decode at the pixel-index tier — the LZW analog of
    * [[jpegDcStats]]'s Huffman/DCT ladder: parses GIF87a/GIF89a
    * (logical screen descriptor, global/local color tables, 89a
    * extension blocks skipped through their sub-block grammar), then
    * LZW-decompresses the single image's table-based data — variable
    * code width (LSB-first bit packing, the opposite of JPEG's
    * MSB-first), CLEAR/EOI control codes, dictionary growth with the
    * KwKwK (`code == next`) case, width bumps at `next == 2^width`,
    * deferred clear at 4096 — folding exact integer stats over the
    * decoded COLOR INDICES. Returns (width, height, nPixels, sumIdx,
    * minIdx, maxIdx); requires the stream to decode to exactly
    * width*height pixels and end at EOI. Interlaced images are
    * accepted — the four-pass row order permutes the raster and index
    * stats are order-invariant. None for truncated streams or any code
    * outside the dictionary — reject, never mis-decode. GifLzwSpec
    * cross-checks against the JDK's own GIF decode (gray palette makes
    * pixel value == index), including the deinterlace map on an
    * interlaced fixture.
    */
  def gifIndexStats(b: Array[Byte]): Option[(Long, Long, Long, Long, Long, Long)] =
    try gifIndexStatsImpl(b)
    catch { case scala.util.control.NonFatal(_) => None }

  private def gifIndexStatsImpl(
      b: Array[Byte]): Option[(Long, Long, Long, Long, Long, Long)] = {
    var stats: Option[(Long, Long, Long, Long, Long, Long)] = None
    // a trailer before any image leaves `stats` empty
    gifBlocks(b)(_ => ()) { (iw, ih, minCode, data) =>
      // width/height are the IMAGE descriptor's (iw, ih) — the pixels
      // the stats actually cover — not the logical-screen (sw, sh):
      // a first frame that is a subrectangle of the screen would
      // otherwise report width*height != n_pixels.
      stats = gifLzwStats(data, minCode, iw.toLong * ih, iw, ih)
      false
    }
    stats
  }

  /** Walk the blocks of a GIF87a/GIF89a stream after its logical screen
    * descriptor and global color table. An extension is handed to
    * `onExt` at its introducer's offset, then skipped through its
    * sub-block grammar. An image descriptor is parsed — local color
    * table skipped, LZW minimum code size checked (2..8), data
    * sub-blocks concatenated — and handed to `onImage(iw, ih, minCode,
    * data)`, which returns whether to walk on. Interlaced images are
    * accepted: the four-pass row order is a permutation of the raster,
    * and index stats are order-invariant (GifLzwSpec cross-checks an
    * interlaced fixture against the JDK's deinterlacing decode).
    * Some(true) at the trailer, Some(false) when `onImage` stopped the
    * walk, None on a malformed stream or one without a trailer.
    */
  private def gifBlocks(b: Array[Byte])(onExt: Int => Unit)(
      onImage: (Int, Int, Int, Array[Byte]) => Boolean): Option[Boolean] = {
    if (b.length < 14) return None
    val sig = new String(b, 0, 6, java.nio.charset.StandardCharsets.US_ASCII)
    if (sig != "GIF87a" && sig != "GIF89a") return None
    // logical-screen dims at offsets 6/8 are NOT the stats surface
    // (the image descriptor's iw/ih are) — only the packed byte matters
    val packed = b(10) & 0xff
    var pos = 13
    if ((packed & 0x80) != 0) pos += 3 * (1 << ((packed & 7) + 1)) // GCT
    while (pos < b.length) {
      val bt = b(pos) & 0xff
      if (bt == 0x3b) return Some(true) // trailer
      else if (bt == 0x21) { // 89a extension: label byte + sub-blocks
        onExt(pos)
        pos += 2
        var n = -1
        while (n != 0) {
          if (pos >= b.length) return None
          n = b(pos) & 0xff
          pos += 1 + n
        }
      } else if (bt == 0x2c) { // image descriptor
        if (pos + 10 > b.length) return None
        val iw = le16(b, pos + 5)
        val ih = le16(b, pos + 7)
        val ip = b(pos + 9) & 0xff
        pos += 10
        if ((ip & 0x80) != 0) pos += 3 * (1 << ((ip & 7) + 1)) // local CT
        if (pos >= b.length) return None
        val minCode = b(pos) & 0xff
        pos += 1
        if (minCode < 2 || minCode > 8) return None
        val data = new java.io.ByteArrayOutputStream()
        var n = -1
        while (n != 0) {
          if (pos >= b.length) return None
          n = b(pos) & 0xff
          if (pos + 1 + n > b.length) return None
          data.write(b, pos + 1, n)
          pos += 1 + n
        }
        if (iw <= 0 || ih <= 0) return None
        if (!onImage(iw, ih, minCode, data.toByteArray)) return Some(false)
      } else return None
    }
    None
  }

  /** LZW-decode `d` (concatenated sub-block payloads) and fold index
    * stats; exact-pixel-count and in-dictionary checks reject anything
    * malformed.
    */
  /** ANIMATED-GIF census: walks EVERY image descriptor (not just the
    * first), really LZW-decodes each frame's index stream through
    * [[gifLzwStats]]'s validated decoder, captures each frame's
    * graphic-control delay, and folds the file-level animation facts:
    * (n_frames, width, height, total_pixels, sum_idx_all_frames,
    * sum_delay_cs). Frames must share the first frame's dimensions
    * (the fixture contract; mismatched-geometry animations reject
    * rather than mis-aggregate). None on any malformed frame — the
    * whole file rejects, never a partial count.
    */
  def gifAnimStats(b: Array[Byte]): Option[(Long, Long, Long, Long, Long, Long)] =
    try gifAnimStatsImpl(b)
    catch { case scala.util.control.NonFatal(_) => None }

  private def gifAnimStatsImpl(
      b: Array[Byte]): Option[(Long, Long, Long, Long, Long, Long)] = {
    var nFrames = 0L
    var w0 = 0L; var h0 = 0L
    var totalPx = 0L
    var sumIdx = 0L
    var sumDelay = 0L
    var pendingDelay = 0L
    val end = gifBlocks(b) { pos =>
      val label = b(pos + 1) & 0xff
      if (label == 0xf9 && pos + 6 < b.length && (b(pos + 2) & 0xff) == 4)
        pendingDelay = le16(b, pos + 4).toLong // GCE delay, centiseconds
    } { (iw, ih, minCode, data) =>
      if (nFrames == 0) { w0 = iw.toLong; h0 = ih.toLong }
      if (iw.toLong != w0 || ih.toLong != h0) false
      else gifLzwStats(data, minCode, iw.toLong * ih, iw, ih) match {
        case Some((_, _, nPix, s, _, _)) =>
          nFrames += 1
          totalPx += nPix
          sumIdx += s
          sumDelay += pendingDelay
          pendingDelay = 0L
          true
        case None => false
      }
    }
    // only the trailer completes the census; a rejected frame rejects
    // the whole file
    if (end.contains(true) && nFrames > 0)
      Some((nFrames, w0, h0, totalPx, sumIdx, sumDelay))
    else None
  }

  /** Multi-frame fixture: [[gifPatternBytes]]'s frame block (GCE +
    * descriptor + really-LZW-compressed image data) repeated
    * `nFrames` times with per-frame GCE delays 10(f+1) cs — a real
    * animation whose every frame exercises the full decoder. */
  def gifAnimBytes(width: Int, height: Int, nFrames: Int): Array[Byte] = {
    val single = gifPatternBytes(width, height)
    val gceAt = 6 + 7 + 768 // header + LSD + the 256-entry GCT (0xf7)
    require((single(gceAt) & 0xff) == 0x21, "generator layout changed")
    val frame = java.util.Arrays.copyOfRange(single, gceAt, single.length - 1)
    val out = new java.io.ByteArrayOutputStream()
    out.write(single, 0, gceAt)
    var f = 0
    while (f < nFrames) {
      val fb = frame.clone()
      val d = 10 * (f + 1)
      fb(4) = (d & 0xff).toByte // GCE: 21 f9 04 flags delayLo delayHi
      fb(5) = ((d >> 8) & 0xff).toByte
      out.write(fb)
      f += 1
    }
    out.write(0x3b)
    out.toByteArray
  }

  private def gifLzwStats(d: Array[Byte], minCode: Int, nPix: Long,
      w: Int, h: Int): Option[(Long, Long, Long, Long, Long, Long)] = {
    val clear = 1 << minCode
    val eoi = clear + 1
    var width = minCode + 1
    var next = eoi + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Int](4096)
    val stack = new Array[Int](4096)
    var bitPos = 0L
    val totalBits = d.length.toLong * 8
    def readCode(): Int = {
      if (bitPos + width > totalBits) return -1
      var v = 0
      var i = 0
      while (i < width) { // LSB-first across bytes (GIF, unlike JPEG)
        val bp = bitPos + i
        v |= (((d((bp >> 3).toInt) & 0xff) >> (bp & 7).toInt) & 1) << i
        i += 1
      }
      bitPos += width
      v
    }
    var count = 0L
    var sum = 0L
    var mn = Long.MaxValue
    var mx = Long.MinValue
    def emit(idx: Int): Boolean = {
      count += 1
      if (count > nPix) return false
      sum += idx
      if (idx < mn) mn = idx
      if (idx > mx) mx = idx
      true
    }
    // expand a code onto the stack; returns the stack depth, or -1 on a
    // corrupt prefix chain; stack(top-1..0) is the string in order
    def expand(code: Int): Int = {
      var c = code
      var sp = 0
      while (c >= clear + 2) {
        if (sp >= stack.length || c >= next) return -1
        stack(sp) = suffix(c)
        sp += 1
        c = prefix(c)
      }
      if (c >= clear) return -1 // chain must bottom out at a root
      stack(sp) = c
      sp + 1
    }
    var prev = -1
    while (true) {
      val c = readCode()
      if (c < 0) return None
      if (c == clear) {
        next = eoi + 1
        width = minCode + 1
        prev = -1
      } else if (c == eoi) {
        if (count != nPix) return None
        return Some((w.toLong, h.toLong, nPix, sum, mn, mx))
      } else if (prev == -1) {
        if (c >= clear) return None // first code after clear: a root
        if (!emit(c)) return None
        prev = c
      } else {
        var sp = -1
        if (c < next) {
          sp = expand(c)
          if (sp < 0) return None
        } else if (c == next && next < 4096) {
          // KwKwK: string(prev) + first(string(prev))
          val spPrev = expand(prev)
          if (spPrev < 0) return None
          // shift up one slot and append first char at the bottom
          var i = spPrev
          while (i > 0) { stack(i) = stack(i - 1); i -= 1 }
          stack(0) = stack(spPrev) // first char = bottom of prev's stack
          sp = spPrev + 1
        } else return None
        val firstCh = stack(sp - 1)
        var i = sp - 1
        while (i >= 0) {
          if (!emit(stack(i))) return None
          i -= 1
        }
        if (next < 4096) { // deferred clear: full dictionary stops adds
          prefix(next) = prev
          suffix(next) = firstCh
          next += 1
          if (next == (1 << width) && width < 12) width += 1
        }
        prev = c
      }
    }
    None
  }

  /** GIF89a fixture with REAL LZW compression: a 256-entry grayscale
    * ramp palette (pixel value == index, so the JDK cross-check is
    * exact) and the deterministic index pattern
    * `idx(p) = ((7*p) mod 32) * 8` whose period-32 repeats exercise
    * genuine dictionary growth (multi-character entries, width bumps,
    * and — on larger images — the 4096-entry clear). The encoder is a
    * textbook greedy-longest-match LZW whose emitted code widths track
    * the DECODER's dictionary view (the decoder lags one entry behind
    * the encoder, so widths are driven by a simulated decoder counter —
    * the subtle bit every GIF codec pair must agree on). A graphic
    * control extension block is included so the 89a extension-skip
    * grammar is exercised on every fixture.
    */
  def gifPatternBytes(width: Int, height: Int,
      interlaced: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def b(xs: Int*): Unit = xs.foreach(x => out.write(x & 0xff))
    out.write("GIF89a".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    b(width & 0xff, width >> 8, height & 0xff, height >> 8, 0xf7, 0x00, 0x00)
    (0 until 256).foreach(i => b(i, i, i)) // gray ramp GCT
    b(0x21, 0xf9, 0x04, 0x00, 0x00, 0x00, 0x00, 0x00) // GCE (no transparency)
    b(0x2c, 0, 0, 0, 0,
      width & 0xff, width >> 8, height & 0xff, height >> 8,
      if (interlaced) 0x40 else 0x00)
    b(0x08) // LZW minimum code size
    val minCode = 8
    val clearCode = 1 << minCode
    val eoiCode = clearCode + 1
    // bit packer, LSB-first
    val ent = new java.io.ByteArrayOutputStream()
    var cur = 0
    var nbits = 0
    // the decoder's view: width bumps when ITS next counter (one entry
    // behind the encoder's) reaches 2^width
    var decWidth = minCode + 1
    var decNext = eoiCode + 1
    var emitted = 0 // non-control codes since the last clear
    def putCode(code: Int, control: Boolean): Unit = {
      var i = 0
      while (i < decWidth) {
        cur |= ((code >> i) & 1) << nbits
        nbits += 1
        if (nbits == 8) { ent.write(cur); cur = 0; nbits = 0 }
        i += 1
      }
      if (!control) {
        if (emitted >= 1) { // the decoder adds one entry per code after the first
          decNext += 1
          if (decNext == (1 << decWidth) && decWidth < 12) decWidth += 1
        }
        emitted += 1
      }
    }
    val dict = new java.util.HashMap[Integer, Integer]()
    var encNext = eoiCode + 1
    def reset(): Unit = {
      dict.clear()
      encNext = eoiCode + 1
      decWidth = minCode + 1
      decNext = eoiCode + 1
      emitted = 0
    }
    val nPix = width.toLong * height
    // with `interlaced`, rows are stored in the GIF87a four-pass order
    // (8k, 8k+4, 4k+2, 2k+1) — the image, deinterlaced, still carries
    // idx at raster position p, which is what the JDK cross-check sees
    val rowOrder: Array[Int] =
      if (!interlaced) Array.range(0, height)
      else (Range(0, height, 8) ++ Range(4, height, 8) ++
        Range(2, height, 4) ++ Range(1, height, 2)).toArray
    def idx(streamPos: Long): Int = {
      val row = rowOrder((streamPos / width).toInt)
      val p = row.toLong * width + streamPos % width
      (((7 * p) % 32) * 8).toInt
    }
    putCode(clearCode, control = true)
    var curStr = idx(0)
    var p = 1L
    while (p < nPix) {
      val k = idx(p)
      val key = Integer.valueOf((curStr << 8) | k)
      val hit = dict.get(key)
      if (hit != null) curStr = hit.intValue()
      else {
        putCode(curStr, control = false)
        if (encNext < 4096) {
          dict.put(key, Integer.valueOf(encNext))
          encNext += 1
        } else {
          putCode(clearCode, control = true)
          reset()
        }
        curStr = k
      }
      p += 1
    }
    putCode(curStr, control = false)
    putCode(eoiCode, control = true)
    if (nbits > 0) { ent.write(cur); cur = 0; nbits = 0 }
    val payload = ent.toByteArray
    var off = 0
    while (off < payload.length) { // 255-byte sub-blocks
      val n = math.min(255, payload.length - off)
      out.write(n)
      out.write(payload, off, n)
      off += n
    }
    b(0x00, 0x3b) // block terminator + trailer
    out.toByteArray
  }

  final case class GifStatsRow(
      fileId: Long, width: Long, height: Long, nPixels: Long,
      sumIdx: Long, minIdx: Long, maxIdx: Long, valid: Boolean)

  /** Partition-mapped GIF index stats — the [[parseAll]] narrow shape. */
  final case class GifAnimRow(fileId: Long, nFrames: Long, width: Long,
      height: Long, totalPx: Long, sumIdx: Long, sumDelayCs: Long,
      valid: Boolean)

  /** Partition-mapped animated-GIF census — the [[parseAll]] shape. */
  def gifAnimAll(df: DataFrame): Dataset[GifAnimRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("file_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          gifAnimStats(bytes) match {
            case Some((nf, w, h, tp, si, sd)) =>
              GifAnimRow(id, nf, w, h, tp, si, sd, valid = true)
            case None =>
              GifAnimRow(id, 0L, 0L, 0L, 0L, 0L, 0L, valid = false)
          }
        }
      }
  }

  def gifStatsAll(df: DataFrame): Dataset[GifStatsRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("file_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          gifIndexStats(bytes) match {
            case Some((w, h, np, s, mn, mx)) =>
              GifStatsRow(id, w, h, np, s, mn, mx, valid = true)
            case None =>
              GifStatsRow(id, 0L, 0L, 0L, 0L, 0L, 0L, valid = false)
          }
        }
      }
  }

  /** Frame sampling over binary payloads. A payload that is a
    * consistent sample-table MP4 with a video track + stss routes
    * through [[mp4Keyframes]] — REAL keyframe bytes at real stco/stsz
    * offsets, evenly picked across the sync-sample list (the r19
    * "stub featurizer" seam closed). Anything else falls back to the
    * deterministic even-slicing stub (documented placeholder for
    * containers without frame structure).
    */
  def sampleFrames(df: DataFrame, frames: Int = 4, bytesPerFrame: Int = 8): Dataset[MediaFrame] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        mp4Keyframes(bytes, frames, bytesPerFrame) match {
          case Some(sel) =>
            sel.iterator.map { case (fi, _, fb) => MediaFrame(id, fi, fb) }
          case None =>
            val chunk = math.max(bytes.length / frames, 1)
            (0 until frames).iterator
              .map(f => (f, f * chunk))
              .takeWhile { case (_, off) => off < bytes.length }
              .map { case (f, off) =>
                MediaFrame(id, f, bytes.slice(off, math.min(off + bytesPerFrame, bytes.length)))
              }
        }
      }
  }

  // ---------------------------------------------------------------------
  // FLAC STREAMINFO census (metadata block walk, no frame decode)
  // ---------------------------------------------------------------------

  /** FLAC structural census — the lossless-audio companion of the MP3
    * frame walk: the `fLaC` magic, then the metadata block chain
    * (1-byte last-flag+type header, 24-bit BE length) with STREAMINFO
    * REQUIRED FIRST per spec, its packed bitfields decoded exactly —
    * 20-bit sample rate, 3-bit channels-1, 5-bit bps-1, 36-bit total
    * samples — and the remaining blocks (padding, vorbis comment, ...)
    * counted and stepped until the last-flag. Returns (sampleRate,
    * channels, bps, totalSamples, nMetaBlocks, durationMs =
    * totalSamples * 1000 div rate) or None on a bad magic, STREAMINFO
    * not first, a truncated block, or a zero sample rate. Frame data
    * after the metadata chain is not parsed (the no-decode triage
    * read, like the MP4 census's mdat).
    */
  def flacInfo(b: Array[Byte]): Option[(Long, Long, Long, Long, Long, Long)] =
    try flacInfoImpl(b)
    catch { case scala.util.control.NonFatal(_) => None }

  private def flacInfoImpl(
      b: Array[Byte]): Option[(Long, Long, Long, Long, Long, Long)] = {
    if (b.length < 42) return None
    if (!(b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C')) return None
    var p = 4
    var first = true
    var last = false
    var nBlocks = 0L
    var rate = -1L
    var channels = -1L
    var bps = -1L
    var total = -1L
    while (!last) {
      if (p + 4 > b.length) return None
      val hdr = b(p) & 0xff
      last = (hdr & 0x80) != 0
      val typ = hdr & 0x7f
      val len = ((b(p + 1) & 0xff) << 16) | ((b(p + 2) & 0xff) << 8) |
        (b(p + 3) & 0xff)
      if (typ == 127) return None // invalid block type per spec
      if (first && typ != 0) return None // STREAMINFO must be first
      if (p + 4 + len > b.length) return None
      if (typ == 0) {
        if (!first || len != 34) return None // exactly one, exactly 34 bytes
        val o = p + 4
        // bytes 10..17 pack rate(20) | chan-1(3) | bps-1(5) | total(36)
        val hi = ((b(o + 10) & 0xffL) << 32) | ((b(o + 11) & 0xffL) << 24) |
          ((b(o + 12) & 0xffL) << 16) | ((b(o + 13) & 0xffL) << 8) |
          (b(o + 14) & 0xffL)
        rate = (hi >> 20) & 0xfffffL
        channels = ((hi >> 17) & 0x7L) + 1L
        bps = ((hi >> 12) & 0x1fL) + 1L
        total = ((hi & 0xfffL) << 24) | ((b(o + 15) & 0xffL) << 16) |
          ((b(o + 16) & 0xffL) << 8) | (b(o + 17) & 0xffL)
        if (rate == 0L) return None
      }
      nBlocks += 1
      first = false
      p += 4 + len
    }
    if (rate < 0) return None
    Some((rate, channels, bps, total, nBlocks, total * 1000L / rate))
  }

  /** Deterministic FLAC fixture: STREAMINFO with the given parameters,
    * a vorbis-comment block, a padding block (last), then deterministic
    * filler frame bytes the census must not read.
    */
  def flacBytes(rate: Int, channels: Int, bps: Int, totalSamples: Long,
      tag: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    // STREAMINFO (type 0, 34 bytes)
    out.write(0x00); out.write(0); out.write(0); out.write(34)
    val si = new Array[Byte](34)
    si(0) = 0x10; si(1) = 0x00 // min blocksize 4096
    si(2) = 0x10; si(3) = 0x00 // max blocksize
    // min/max framesize (24-bit each): leave 0 = unknown
    val hi = (rate.toLong << 20) | ((channels - 1).toLong << 17) |
      ((bps - 1).toLong << 12) | ((totalSamples >> 24) & 0xfffL)
    si(10) = ((hi >> 32) & 0xff).toByte
    si(11) = ((hi >> 24) & 0xff).toByte
    si(12) = ((hi >> 16) & 0xff).toByte
    si(13) = ((hi >> 8) & 0xff).toByte
    si(14) = (hi & 0xff).toByte
    si(15) = ((totalSamples >> 16) & 0xff).toByte
    si(16) = ((totalSamples >> 8) & 0xff).toByte
    si(17) = (totalSamples & 0xff).toByte
    // bytes 18-33: md5 of the unencoded audio — deterministic filler
    var i = 18
    while (i < 34) { si(i) = ((tag * 11 + i) % 251).toByte; i += 1 }
    out.write(si)
    // VORBIS_COMMENT (type 4)
    val vc = s"graft fixture $tag".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    out.write(0x04); out.write(0); out.write((vc.length >> 8) & 0xff)
    out.write(vc.length & 0xff)
    out.write(vc)
    // PADDING (type 1, LAST)
    val padLen = 8 + tag % 5
    out.write(0x81); out.write(0); out.write(0); out.write(padLen)
    out.write(new Array[Byte](padLen))
    // frame bytes: never parsed
    out.write(Array.tabulate(32)(j => ((tag * 13 + j) % 251).toByte))
    out.toByteArray
  }

  // ---------------------------------------------------------------------
  // WebP header census (RIFF container + VP8/VP8L/VP8X bitstream headers)
  // ---------------------------------------------------------------------

  /** WebP structural census — the dominant modern web image format's
    * no-decode read: RIFF framing validated (declared size vs actual),
    * then the first chunk's header parsed per variant: `VP8 ` (lossy —
    * the 3-byte frame tag with keyframe bit + the 0x9d012a sync code,
    * 14-bit dims), `VP8L` (lossless — the 0x2f signature byte, 14-bit
    * minus-one dims, the alpha bit), `VP8X` (extended — the feature
    * flag byte, 24-bit LE minus-one canvas dims, alpha + animation
    * flags). Returns (variant, width, height, hasAlpha, animated) or
    * None on any framing/signature/size violation — a WebP that lies
    * about its RIFF size or carries an unknown first chunk rejects,
    * never guesses.
    */
  def webpInfo(b: Array[Byte]): Option[(String, Long, Long, Boolean, Boolean)] =
    try webpInfoImpl(b)
    catch { case scala.util.control.NonFatal(_) => None }

  private def webpInfoImpl(
      b: Array[Byte]): Option[(String, Long, Long, Boolean, Boolean)] = {
    if (b.length < 20) return None
    if (!(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F')) return None
    val riffSize = le32(b, 4)
    if (riffSize + 8 != b.length) return None // declared vs actual
    if (!(b(8) == 'W' && b(9) == 'E' && b(10) == 'B' && b(11) == 'P')) return None
    val tag = new String(b, 12, 4, java.nio.charset.StandardCharsets.US_ASCII)
    val size = le32(b, 16)
    if (size < 0 || 20L + size > b.length) return None
    tag match {
      case "VP8 " =>
        // lossy: 3-byte frame tag (bit 0 = keyframe marker 0), then the
        // 3-byte sync code 0x9d 0x01 0x2a, then 14-bit width/height
        if (size < 10) return None
        if ((b(20) & 0x01) != 0) return None // first frame must be key
        if (!((b(23) & 0xff) == 0x9d && (b(24) & 0xff) == 0x01 &&
          (b(25) & 0xff) == 0x2a)) return None
        val w = ((b(26) & 0xff) | ((b(27) & 0x3f) << 8)).toLong
        val h = ((b(28) & 0xff) | ((b(29) & 0x3f) << 8)).toLong
        if (w <= 0 || h <= 0) return None
        Some(("lossy", w, h, false, false))
      case "VP8L" =>
        if (size < 5) return None
        if ((b(20) & 0xff) != 0x2f) return None // lossless signature
        val bits = le32(b, 21)
        val w = (bits & 0x3fff) + 1L
        val h = ((bits >> 14) & 0x3fff) + 1L
        val alpha = ((bits >> 28) & 1L) == 1L
        Some(("lossless", w, h, alpha, false))
      case "VP8X" =>
        if (size < 10) return None
        val flags = b(20) & 0xff
        if ((flags & 0xc1) != 0) return None // reserved bits must be 0
        val w = 1L + (((b(24) & 0xffL)) | ((b(25) & 0xffL) << 8) |
          ((b(26) & 0xffL) << 16))
        val h = 1L + (((b(27) & 0xffL)) | ((b(28) & 0xffL) << 8) |
          ((b(29) & 0xffL) << 16))
        Some(("extended", w, h, (flags & 0x10) != 0, (flags & 0x02) != 0))
      case _ => None
    }
  }

  /** Deterministic WebP fixture cycling the three header variants with
    * the given dims/flags; payload bytes after the parsed header are
    * deterministic filler (the census never reads them).
    */
  def webpBytes(variant: Int, width: Int, height: Int, alpha: Boolean,
      anim: Boolean, tag: Int): Array[Byte] = {
    val body = new java.io.ByteArrayOutputStream()
    val filler = Array.tabulate(20 + tag % 9)(i => ((tag * 5 + i) % 251).toByte)
    val chunk: Array[Byte] = variant match {
      case 0 => // VP8 lossy
        val hdr = new Array[Byte](10)
        hdr(0) = 0x10 // frame tag: keyframe (bit0=0), version/show bits
        hdr(3) = 0x9d.toByte; hdr(4) = 0x01; hdr(5) = 0x2a
        hdr(6) = (width & 0xff).toByte; hdr(7) = ((width >> 8) & 0x3f).toByte
        hdr(8) = (height & 0xff).toByte; hdr(9) = ((height >> 8) & 0x3f).toByte
        hdr ++ filler
      case 1 => // VP8L lossless
        val bits = (width - 1).toLong | ((height - 1).toLong << 14) |
          (if (alpha) 1L << 28 else 0L)
        Array(0x2f.toByte,
          (bits & 0xff).toByte, ((bits >> 8) & 0xff).toByte,
          ((bits >> 16) & 0xff).toByte, ((bits >> 24) & 0xff).toByte) ++ filler
      case _ => // VP8X extended
        val flags = (if (alpha) 0x10 else 0) | (if (anim) 0x02 else 0)
        Array[Byte](flags.toByte, 0, 0, 0,
          ((width - 1) & 0xff).toByte, (((width - 1) >> 8) & 0xff).toByte,
          (((width - 1) >> 16) & 0xff).toByte,
          ((height - 1) & 0xff).toByte, (((height - 1) >> 8) & 0xff).toByte,
          (((height - 1) >> 16) & 0xff).toByte) ++ filler
    }
    val fourcc = variant match {
      case 0 => "VP8 "; case 1 => "VP8L"; case _ => "VP8X"
    }
    body.write("WEBP".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    body.write(fourcc.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    body.write(chunk.length & 0xff); body.write((chunk.length >> 8) & 0xff)
    body.write((chunk.length >> 16) & 0xff); body.write((chunk.length >> 24) & 0xff)
    body.write(chunk)
    val payload = body.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    out.write("RIFF".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    out.write(payload.length & 0xff); out.write((payload.length >> 8) & 0xff)
    out.write((payload.length >> 16) & 0xff); out.write((payload.length >> 24) & 0xff)
    out.write(payload)
    out.toByteArray
  }

  // ---------------------------------------------------------------------
  // MP3 frame census (MPEG-1 Layer III header walk, no audio decode)
  // ---------------------------------------------------------------------

  /** MPEG-1 Layer III bitrate table, kbps, for header indexes 1-14
    * (index 0 = free-format and 15 = bad both reject).
    */
  private val Mp3Kbps = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128,
    160, 192, 224, 256, 320)
  private val Mp3Rates = Array(44100, 48000, 32000)

  /** Walk an MP3 stream's frame headers — the audio-container census
    * that answers duration/bitrate/integrity WITHOUT decoding samples:
    * optional ID3v2 preamble (syncsafe size) skipped, then every frame
    * header validated (sync, MPEG-1, Layer III, a real bitrate index,
    * a non-reserved sample rate, consistent sample rate across frames —
    * real VBR varies bitrate, never rate) and stepped by the exact
    * `144 * bitrate / samplerate + padding` frame length; an optional
    * trailing 128-byte ID3v1 tag is recognized. Returns (nFrames,
    * sampleRate, kbpsSum, durationMs = nFrames * 1152 * 1000 div rate,
    * hasId3v2, hasId3v1) or None on any desync, truncated frame,
    * free-format/bad bitrate, reserved rate, or trailing junk — a
    * stream that desyncs mid-walk rejects whole-file, never a partial
    * frame count.
    */
  def mp3FrameStats(
      b: Array[Byte]): Option[(Long, Long, Long, Long, Boolean, Boolean)] =
    try mp3FrameStatsImpl(b)
    catch { case scala.util.control.NonFatal(_) => None }

  private def mp3FrameStatsImpl(
      b: Array[Byte]): Option[(Long, Long, Long, Long, Boolean, Boolean)] = {
    var p = 0
    var id3v2 = false
    if (b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
      // syncsafe 28-bit size; reject a set high bit (not syncsafe)
      var size = 0L
      var i = 0
      while (i < 4) {
        val v = b(6 + i) & 0xff
        if ((v & 0x80) != 0) return None
        size = (size << 7) | v
        i += 1
      }
      if (10L + size > b.length) return None
      p = (10L + size).toInt
      id3v2 = true
    }
    var nFrames = 0L
    var sr = -1L
    var kbpsSum = 0L
    var id3v1 = false
    while (p < b.length) {
      if (b.length - p == 128 && b(p) == 'T' && b(p + 1) == 'A' && b(p + 2) == 'G') {
        id3v1 = true
        p = b.length
      } else {
        if (p + 4 > b.length) return None
        val h = ((b(p) & 0xff) << 24) | ((b(p + 1) & 0xff) << 16) |
          ((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff)
        if ((h >>> 21) != 0x7ff) return None // desync
        if (((h >> 19) & 3) != 3) return None // not MPEG-1
        if (((h >> 17) & 3) != 1) return None // not Layer III
        val brIdx = (h >> 12) & 0xf
        val srIdx = (h >> 10) & 3
        val pad = (h >> 9) & 1
        if (brIdx == 0 || brIdx == 15 || srIdx == 3) return None
        val rate = Mp3Rates(srIdx).toLong
        if (sr < 0) sr = rate
        else if (sr != rate) return None // rate must not vary mid-stream
        val kbps = Mp3Kbps(brIdx).toLong
        val frameLen = (144L * kbps * 1000L) / rate + pad
        if (p + frameLen > b.length) return None // truncated frame
        nFrames += 1
        kbpsSum += kbps
        p += frameLen.toInt
      }
    }
    if (nFrames == 0L) return None
    Some((nFrames, sr, kbpsSum, nFrames * 1152L * 1000L / sr, id3v2, id3v1))
  }

  /** Deterministic MP3 fixture: optional ID3v2 preamble, `nFrames`
    * MPEG-1 Layer III frames at sample-rate index `srIdx` with bitrate
    * indexes cycling `1 + (tag + i) % 14` (the VBR reality) and the
    * padding bit set every third frame, deterministic payload bytes;
    * optional trailing ID3v1 tag.
    */
  def mp3Bytes(tag: Int, nFrames: Int, srIdx: Int, id3v2: Boolean,
      id3v1: Boolean): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    if (id3v2) {
      val body = Array.tabulate(20 + tag % 7)(i => ((tag + i) % 100 + 32).toByte)
      bos.write("ID3".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      bos.write(4); bos.write(0); bos.write(0) // version 2.4, no flags
      // syncsafe size
      bos.write((body.length >> 21) & 0x7f); bos.write((body.length >> 14) & 0x7f)
      bos.write((body.length >> 7) & 0x7f); bos.write(body.length & 0x7f)
      bos.write(body)
    }
    val rate = Mp3Rates(srIdx)
    for (i <- 0 until nFrames) {
      val brIdx = 1 + (tag + i) % 14
      val pad = if (i % 3 == 0) 1 else 0
      val h = (0x7ffL << 21) | (3L << 19) | (1L << 17) | (1L << 16) |
        (brIdx.toLong << 12) | (srIdx.toLong << 10) | (pad.toLong << 9)
      val frameLen = (144L * Mp3Kbps(brIdx) * 1000L / rate + pad).toInt
      val frame = new Array[Byte](frameLen)
      frame(0) = ((h >> 24) & 0xff).toByte
      frame(1) = ((h >> 16) & 0xff).toByte
      frame(2) = ((h >> 8) & 0xff).toByte
      frame(3) = (h & 0xff).toByte
      var j = 4
      while (j < frameLen) { frame(j) = ((tag * 3 + i * 7 + j) % 251).toByte; j += 1 }
      bos.write(frame)
    }
    if (id3v1) {
      val tag1 = new Array[Byte](128)
      tag1(0) = 'T'; tag1(1) = 'A'; tag1(2) = 'G'
      bos.write(tag1)
    }
    bos.toByteArray
  }

  // ---------------------------------------------------------------------
  // ISO BMFF (MP4) box census — the video-container front door
  // ---------------------------------------------------------------------

  /** Walk an ISO base-media file's box tree (MP4/MOV/M4A — the container
    * essentially all crawl video arrives in): u32-BE size + 4cc type,
    * size==1 -> 64-bit largesize (the >4 GiB form real video files use),
    * size==0 -> box extends to EOF (legal only for the LAST top-level
    * box); containers (moov/trak/mdia/minf/stbl) recurse; full boxes
    * (mvhd/mdhd/hdlr) carry version+flags. Returns (majorBrand,
    * nTopBoxes, nTracks, nVideo, nAudio, timescale, duration,
    * mdatBytes) or None on any structural violation: a box size that
    * overruns its parent, size < 8 (other than the 0/1 forms), a
    * missing/late ftyp, a missing moov/mvhd, an unsupported mvhd
    * version, or a size==0 box that is not last.
    */
  def mp4BoxStats(
      b: Array[Byte]): Option[(String, Long, Long, Long, Long, Long, Long, Long)] =
    try mp4BoxStatsImpl(b)
    catch { case scala.util.control.NonFatal(_) => None }

  private def mp4BoxStatsImpl(
      b: Array[Byte]): Option[(String, Long, Long, Long, Long, Long, Long, Long)] = {
    if (b.length < 16) return None
    def u32(o: Int): Long = ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
    def u64(o: Int): Long = (u32(o) << 32) | u32(o + 4)
    def fourcc(o: Int): String =
      new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
    val containers = Set("moov", "trak", "mdia", "minf", "stbl", "edts")
    var majorBrand: String = null
    var nTop = 0L
    var nTracks = 0L
    var nVideo = 0L
    var nAudio = 0L
    var timescale = -1L
    var duration = -1L
    var mdatBytes = 0L
    var sawMoov = false
    // returns false on structural violation
    def walk(lo: Long, hi: Long, depth: Int): Boolean = {
      var p = lo
      while (p < hi) {
        if (p + 8 > hi) return false
        var size = u32(p.toInt)
        var hdr = 8L
        val typ = fourcc(p.toInt + 4)
        if (size == 1L) {
          if (p + 16 > hi) return false
          size = u64(p.toInt + 8)
          hdr = 16L
        } else if (size == 0L) {
          // to-EOF form: legal only for the LAST top-level box
          if (depth != 0) return false
          size = hi - p
        }
        if (size < hdr || p + size > hi) return false
        if (depth == 0) {
          nTop += 1
          if (nTop == 1L) {
            if (typ != "ftyp" || size < hdr + 8) return false
            majorBrand = fourcc((p + hdr).toInt)
          } else if (typ == "ftyp") return false // ftyp must be first
        }
        typ match {
          case "moov" => sawMoov = true
          case "trak" => nTracks += 1
          case "mdat" => mdatBytes += size - hdr
          case "mvhd" =>
            // the box size must cover every field we read — an
            // undersized mvhd would otherwise read the next sibling's
            // bytes as timescale/duration
            if (size < hdr + 1) return false
            val v = b((p + hdr).toInt) & 0xff
            if (v == 0) {
              // version 0: 32-bit ctime/mtime, then timescale + duration
              if (size < hdr + 20) return false
              timescale = u32((p + hdr + 12).toInt)
              duration = u32((p + hdr + 16).toInt)
            } else if (v == 1) {
              // version 1: 64-bit times and duration
              if (size < hdr + 32) return false
              timescale = u32((p + hdr + 20).toInt)
              duration = u64((p + hdr + 24).toInt)
            } else return false
          case "hdlr" =>
            // full box: version+flags, pre_defined, then handler_type —
            // reject an hdlr too small to hold the handler fourcc
            if (size < hdr + 12) return false
            val ht = fourcc((p + hdr + 8).toInt)
            if (ht == "vide") nVideo += 1
            if (ht == "soun") nAudio += 1
          case _ => ()
        }
        if (containers(typ) && !walk(p + hdr, p + size, depth + 1))
          return false
        p += size
      }
      p == hi
    }
    if (!walk(0L, b.length.toLong, 0)) return None
    if (majorBrand == null || !sawMoov || timescale <= 0 || duration < 0)
      return None
    Some((majorBrand, nTop, nTracks, nVideo, nAudio, timescale, duration,
      mdatBytes))
  }

  /** Deterministic minimal-but-conformant MP4 fixture: ftyp(isom) +
    * moov(mvhd v0 + one trak(mdia(mdhd, hdlr)) per track, handlers
    * alternating vide/soun) + a free box + mdat carrying `payload`
    * bytes; when `largesize` the mdat uses the 64-bit size==1 form (the
    * >4 GiB header real video ships), and when `toEof` the LAST mdat
    * uses the size==0 to-EOF form.
    */
  def mp4Bytes(tag: Int, nTracks: Int, timescale: Long, duration: Long,
      payloadBytes: Int, largesize: Boolean = false,
      toEof: Boolean = false): Array[Byte] = {
    def box(typ: String, body: Array[Byte]): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(8 + body.length)
      out.putInt(8 + body.length)
      out.put(typ.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      out.put(body)
      out.array()
    }
    def be32(v: Long): Array[Byte] =
      Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    val ftyp = box("ftyp",
      "isom".getBytes ++ be32(0x200) ++ "isommp41".getBytes)
    val mvhd = box("mvhd",
      be32(0) /* v0 + flags */ ++ be32(0) ++ be32(0) /* ctime mtime */ ++
        be32(timescale) ++ be32(duration) ++
        Array.fill(80)(0.toByte)) // rate/volume/matrix/next_track
    val traks = (0 until nTracks).map { t =>
      val ht = if (t % 2 == 0) "vide" else "soun"
      val hdlr = box("hdlr",
        be32(0) ++ be32(0) ++ ht.getBytes ++ Array.fill(12)(0.toByte) ++
          Array[Byte](0)) // name: empty NUL-terminated
      val mdhd = box("mdhd",
        be32(0) ++ be32(0) ++ be32(0) ++ be32(timescale) ++ be32(duration) ++
          Array[Byte](0x55, ((0xc4 & 0xff)).toByte, 0, 0)) // und language
      box("trak", box("mdia", mdhd ++ hdlr))
    }
    val moov = box("moov", mvhd ++ traks.flatten.toArray)
    val free = box("free", Array.fill(4)((tag & 0xff).toByte))
    val payload = Array.tabulate(payloadBytes)(i => ((tag * 7 + i) % 251).toByte)
    val mdat: Array[Byte] =
      if (largesize) {
        val out = java.nio.ByteBuffer.allocate(16 + payload.length)
        out.putInt(1)
        out.put("mdat".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
        out.putLong(16L + payload.length)
        out.put(payload)
        out.array()
      } else if (toEof) {
        val out = java.nio.ByteBuffer.allocate(8 + payload.length)
        out.putInt(0)
        out.put("mdat".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
        out.put(payload)
        out.array()
      } else box("mdat", payload)
    ftyp ++ moov ++ free ++ mdat
  }

  // ---------------------------------------------------------------------
  // MP4 sample tables (stts/stsz/stsc/stco/stss) — per-track census +
  // real keyframe extraction
  // ---------------------------------------------------------------------

  private def mp4U32(b: Array[Byte], o: Long): Long =
    ((b(o.toInt) & 0xffL) << 24) | ((b(o.toInt + 1) & 0xffL) << 16) |
      ((b(o.toInt + 2) & 0xffL) << 8) | (b(o.toInt + 3) & 0xffL)
  private def mp4U64(b: Array[Byte], o: Long): Long =
    (mp4U32(b, o) << 32) | mp4U32(b, o + 4)
  private def mp4cc(b: Array[Byte], o: Long): String =
    new String(b, o.toInt, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** Direct children of a box payload [lo, hi): (type, payloadLo,
    * boxEnd). None on any structural violation (the mp4BoxStats
    * contract: sizes must tile the parent exactly).
    */
  private def mp4Children(b: Array[Byte], lo: Long,
      hi: Long): Option[Seq[(String, Long, Long)]] = {
    val out = Seq.newBuilder[(String, Long, Long)]
    var p = lo
    while (p < hi) {
      if (p + 8 > hi) return None
      var size = mp4U32(b, p)
      var hdr = 8L
      val typ = mp4cc(b, p + 4)
      if (size == 1L) {
        if (p + 16 > hi) return None
        size = mp4U64(b, p + 8)
        hdr = 16L
      } else if (size == 0L) size = hi - p
      if (size < hdr || p + size > hi) return None
      out += ((typ, p + hdr, p + size))
      p += size
    }
    Some(out.result())
  }

  private val Mp4MaxSamples = 10000000L

  /** One track's parsed sample tables + derived per-sample offsets. */
  private final case class Mp4Track(handler: String, timescale: Long,
      durationTicks: Long, sizes: Array[Long], offsets: Array[Long],
      stss: Option[Array[Long]])

  /** Parse every trak's stbl into sample tables. None (whole-file) on
    * any reject: missing/undersized boxes, stts-vs-stsz sample-count
    * disagreement, an stsc chunk walk that does not cover the samples
    * exactly, an stss sample number out of 1..n or non-ascending, a
    * sample lying outside the file, or count fields past the
    * [[Mp4MaxSamples]] allocation guard.
    */
  private def mp4Tracks(b: Array[Byte]): Option[Seq[Mp4Track]] = {
    val top = mp4Children(b, 0L, b.length.toLong).getOrElse(return None)
    if (top.isEmpty || top.head._1 != "ftyp") return None
    val moov = top.find(_._1 == "moov").getOrElse(return None)
    val moovKids = mp4Children(b, moov._2, moov._3).getOrElse(return None)
    val out = Seq.newBuilder[Mp4Track]
    for ((typ, lo, hi) <- moovKids if typ == "trak") {
      val trakKids = mp4Children(b, lo, hi).getOrElse(return None)
      val mdia = trakKids.find(_._1 == "mdia").getOrElse(return None)
      val mdiaKids = mp4Children(b, mdia._2, mdia._3).getOrElse(return None)
      // mdhd timescale (v0/v1, sizes validated)
      val mdhd = mdiaKids.find(_._1 == "mdhd").getOrElse(return None)
      val tsc = {
        if (mdhd._3 - mdhd._2 < 1) return None
        val v = b(mdhd._2.toInt) & 0xff
        if (v == 0) {
          if (mdhd._3 - mdhd._2 < 20) return None
          mp4U32(b, mdhd._2 + 12)
        } else if (v == 1) {
          if (mdhd._3 - mdhd._2 < 32) return None
          mp4U32(b, mdhd._2 + 20)
        } else return None
      }
      if (tsc <= 0) return None
      val hdlr = mdiaKids.find(_._1 == "hdlr").getOrElse(return None)
      if (hdlr._3 - hdlr._2 < 12) return None
      val handler = mp4cc(b, hdlr._2 + 8)
      val minf = mdiaKids.find(_._1 == "minf").getOrElse(return None)
      val minfKids = mp4Children(b, minf._2, minf._3).getOrElse(return None)
      val stbl = minfKids.find(_._1 == "stbl").getOrElse(return None)
      val stblKids = mp4Children(b, stbl._2, stbl._3).getOrElse(return None)
      def full(name: String): Option[(Long, Long)] =
        stblKids.find(_._1 == name).map(k => (k._2, k._3)).map {
          case (l, h) => if (h - l < 8) return None else (l + 4, h)
        } // skip version+flags; require the entry-count field below
      // stts: entry_count x (sample_count, sample_delta)
      val (sttsLo, sttsHi) = full("stts").getOrElse(return None)
      val nStts = mp4U32(b, sttsLo)
      if (nStts < 0 || nStts > Mp4MaxSamples ||
        sttsLo + 4 + nStts * 8 > sttsHi) return None
      var nFromStts = 0L
      var durTicks = 0L
      var i = 0L
      while (i < nStts) {
        val c = mp4U32(b, sttsLo + 4 + i * 8)
        val d = mp4U32(b, sttsLo + 4 + i * 8 + 4)
        nFromStts += c
        durTicks += c * d
        i += 1
      }
      if (nFromStts > Mp4MaxSamples) return None
      // stsz: sample_size or per-sample table
      val (stszLo, stszHi) = full("stsz").getOrElse(return None)
      if (stszLo + 8 > stszHi) return None
      val uniform = mp4U32(b, stszLo)
      val nSamples = mp4U32(b, stszLo + 4)
      if (nSamples != nFromStts || nSamples > Mp4MaxSamples) return None
      val sizes: Array[Long] =
        if (uniform != 0L) {
          // file-derived bound BEFORE allocating: nSamples uniform-sized
          // samples cannot outnumber the file's bytes, so a ~100-byte
          // header claiming 10M samples must not force a 160 MB alloc
          if (nSamples > b.length) return None
          Array.fill(nSamples.toInt)(uniform)
        }
        else {
          if (stszLo + 8 + nSamples * 4 > stszHi) return None
          Array.tabulate(nSamples.toInt)(j => mp4U32(b, stszLo + 8 + j * 4L))
        }
      // stsc: (first_chunk, samples_per_chunk, desc) runs
      val (stscLo, stscHi) = full("stsc").getOrElse(return None)
      val nStsc = mp4U32(b, stscLo)
      if (nStsc <= 0 || nStsc > Mp4MaxSamples ||
        stscLo + 4 + nStsc * 12 > stscHi) return None
      val stsc = Array.tabulate(nStsc.toInt) { j =>
        (mp4U32(b, stscLo + 4 + j * 12L), mp4U32(b, stscLo + 4 + j * 12L + 4))
      }
      if (stsc.head._1 != 1L) return None
      // stco: chunk offsets
      val (stcoLo, stcoHi) = full("stco").getOrElse(return None)
      val nChunks = mp4U32(b, stcoLo)
      if (nChunks < 0 || nChunks > Mp4MaxSamples ||
        stcoLo + 4 + nChunks * 4 > stcoHi) return None
      val chunkOff = Array.tabulate(nChunks.toInt)(j =>
        mp4U32(b, stcoLo + 4 + j * 4L))
      // assign samples to chunks via the stsc runs; derive offsets
      val offsets = new Array[Long](nSamples.toInt)
      var s = 0
      var chunk = 1L
      var run = 0
      while (s < nSamples && chunk <= nChunks) {
        while (run + 1 < stsc.length && stsc(run + 1)._1 <= chunk) run += 1
        val spc = stsc(run)._2
        if (spc <= 0) return None
        var off = chunkOff(chunk.toInt - 1)
        var j = 0L
        while (j < spc && s < nSamples) {
          offsets(s) = off
          if (off < 0 || off + sizes(s) > b.length) return None
          off += sizes(s)
          s += 1
          j += 1
        }
        chunk += 1
      }
      if (s != nSamples) return None // chunks must cover samples exactly
      // stss: sync-sample numbers (optional; absent = every sample)
      val stss: Option[Array[Long]] =
        stblKids.find(_._1 == "stss") match {
          case None => None
          case Some(k) =>
            if (k._3 - k._2 < 8) return None
            val lo2 = k._2 + 4
            val n = mp4U32(b, lo2)
            if (n < 0 || n > Mp4MaxSamples || lo2 + 4 + n * 4 > k._3)
              return None
            val arr = Array.tabulate(n.toInt)(j => mp4U32(b, lo2 + 4 + j * 4L))
            var prev = 0L
            arr.foreach { sn =>
              if (sn <= prev || sn > nSamples) return None
              prev = sn
            }
            Some(arr)
        }
      out += Mp4Track(handler, tsc, durTicks, sizes, offsets, stss)
    }
    val tracks = out.result()
    if (tracks.isEmpty) None else Some(tracks)
  }

  /** Per-track sample-table census — what a video curation pass gates
    * on BEFORE spending decode cycles: exact per-track duration (stts
    * sum against the mdhd timescale), sample count and byte volume
    * (stsz), and keyframe count/density (stss; absent stss means every
    * sample is a sync sample per spec — reported with hasStss=false so
    * the density read stays honest). Whole-file None on any
    * inconsistent table (see [[mp4Tracks]]).
    */
  def mp4SampleStats(b: Array[Byte]): Option[Seq[(Long, String, Long, Long,
      Long, Long, Long, Long, Boolean)]] =
    try {
      mp4Tracks(b).map(_.zipWithIndex.map { case (t, i) =>
        val nk = t.stss.map(_.length.toLong).getOrElse(t.sizes.length.toLong)
        (i.toLong, t.handler, t.timescale, t.sizes.length.toLong,
          t.durationTicks, t.durationTicks * 1000L / t.timescale,
          t.sizes.sum, nk, t.stss.isDefined)
      })
    } catch { case scala.util.control.NonFatal(_) => None }

  /** REAL keyframe extraction — the read that graduates
    * [[sampleFrames]] from stub slicing: the first video (`vide`)
    * track's stss sample numbers resolve through stsc/stco/stsz to
    * byte ranges in mdat, and up to `frames` keyframes are picked
    * evenly across the sync-sample list (indices i*K/frames,
    * deduplicated — short lists yield fewer frames, never repeats).
    * Returns (frameIdx, sampleNumber, first bytesPerFrame bytes of
    * the sample). None when the file is not a consistent sample-table
    * MP4 with a video track + stss (callers fall back).
    */
  def mp4Keyframes(b: Array[Byte], frames: Int = 4,
      bytesPerFrame: Int = 8): Option[Seq[(Int, Long, Array[Byte])]] =
    try {
      mp4Tracks(b).flatMap { tracks =>
        tracks.find(t => t.handler == "vide" && t.stss.isDefined).map { t =>
          val kf = t.stss.get
          val sel = (0 until frames).map(i => i * kf.length / frames)
            .distinct.filter(_ < kf.length)
          sel.zipWithIndex.map { case (si, fi) =>
            val sn = kf(si) // 1-indexed sample number
            val off = t.offsets(sn.toInt - 1)
            val len = math.min(bytesPerFrame.toLong, t.sizes(sn.toInt - 1))
            (fi, sn, java.util.Arrays.copyOfRange(b, off.toInt,
              (off + len).toInt))
          }
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Deterministic MOVIE fixture with REAL sample tables: ftyp, an
    * mdat laid out sample-by-sample, and a moov whose video track
    * carries a two-run stts (deltas 20/30 at timescale 600), an
    * explicit stsz (sample j is 8 + ((j-1)%3)*4 bytes, every byte
    * (tag*13 + (j-1)*7) % 256), a one-sample-per-chunk stsc/stco, and
    * an stss marking every kf-th sample — while the audio track uses
    * the UNIFORM stsz form (6-byte samples, one 160-tick run at
    * timescale 8000) and no stss. `corrupt` lies in the stsz count
    * (one fewer than stts), which must reject whole-file.
    */
  def mp4MovieBytes(tag: Int, nVideo: Int, kf: Int, nAudio: Int,
      corrupt: Boolean = false): Array[Byte] = {
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    def be32(v: Long): Array[Byte] =
      Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def box(typ: String, body: Array[Byte]): Array[Byte] =
      be32(8L + body.length) ++ typ.getBytes(ascii) ++ body
    val vSizes = Array.tabulate(nVideo)(j => 8 + (j % 3) * 4)
    val vBytes = (0 until nVideo).flatMap { j =>
      Array.fill(vSizes(j))(((tag * 13 + j * 7) % 256).toByte)
    }.toArray
    val aBytes = (0 until nAudio).flatMap { j =>
      Array.fill(6)(((tag * 29 + j * 11) % 256).toByte)
    }.toArray
    val ftyp = box("ftyp", "isom".getBytes(ascii) ++ be32(0x200))
    val mdatPayloadAt = ftyp.length + 8
    val mdat = box("mdat", vBytes ++ aBytes)
    def fullBox(typ: String, body: Array[Byte]): Array[Byte] =
      box(typ, be32(0) ++ body)
    val s1 = nVideo / 2
    val vStts = fullBox("stts", be32(2) ++
      be32(s1) ++ be32(20) ++ be32(nVideo - s1) ++ be32(30))
    val vStsz = fullBox("stsz", be32(0) ++
      be32(if (corrupt) nVideo - 1 else nVideo) ++
      vSizes.flatMap(sz => be32(sz)))
    val vStsc = fullBox("stsc", be32(1) ++ be32(1) ++ be32(1) ++ be32(1))
    val vOffs = vSizes.scanLeft(mdatPayloadAt.toLong)(_ + _).init
    val vStco = fullBox("stco", be32(nVideo) ++ vOffs.flatMap(be32))
    val vKf = (1 to nVideo).filter(j => (j - 1) % kf == 0)
    val vStss = fullBox("stss", be32(vKf.length) ++
      vKf.flatMap(j => be32(j)).toArray)
    val aStts = fullBox("stts", be32(1) ++ be32(nAudio) ++ be32(160))
    val aStsz = fullBox("stsz", be32(6) ++ be32(nAudio))
    val aStsc = fullBox("stsc", be32(1) ++ be32(1) ++ be32(1) ++ be32(1))
    val aStart = mdatPayloadAt.toLong + vBytes.length
    val aOffs = Array.tabulate(nAudio)(j => aStart + 6L * j)
    val aStco = fullBox("stco", be32(nAudio) ++ aOffs.flatMap(be32))
    def mdhd(tsc: Long, dur: Long): Array[Byte] = fullBox("mdhd",
      be32(0) ++ be32(0) ++ be32(tsc) ++ be32(dur) ++
        Array[Byte](0x55, 0xc4.toByte, 0, 0))
    def hdlr(ht: String): Array[Byte] = fullBox("hdlr",
      be32(0) ++ ht.getBytes(ascii) ++ Array.fill(12)(0.toByte) ++
        Array[Byte](0))
    val vDur = s1.toLong * 20 + (nVideo - s1).toLong * 30
    val vTrak = box("trak", box("mdia",
      mdhd(600, vDur) ++ hdlr("vide") ++ box("minf",
        box("stbl", vStts ++ vStsz ++ vStsc ++ vStco ++ vStss))))
    val aTrak = box("trak", box("mdia",
      mdhd(8000, nAudio.toLong * 160) ++ hdlr("soun") ++ box("minf",
        box("stbl", aStts ++ aStsz ++ aStsc ++ aStco))))
    val mvhd = fullBox("mvhd", be32(0) ++ be32(0) ++
      be32(1000) ++ be32(777L + tag) ++ Array.fill(80)(0.toByte))
    ftyp ++ mdat ++ box("moov", mvhd ++ vTrak ++ aTrak)
  }

  // ---------------------------------------------------------------------
  // EXIF metadata extraction (JPEG APP1 -> embedded TIFF IFD walk)
  // ---------------------------------------------------------------------

  /** Extract EXIF metadata from a JPEG's APP1 segment — the curation
    * signals image pipelines read WITHOUT decoding pixels: orientation
    * (tag 274; the rotate-before-resize bit), and the EXIF sub-IFD's
    * PixelXDimension/PixelYDimension (0xA002/0xA003 — the declared
    * dimensions, cross-checkable against the decoded ones). The APP1
    * payload is a complete embedded TIFF in EITHER byte order, all
    * offsets relative to its own header — the classic off-by-APP1-start
    * bug is the thing the fixtures' big-endian/little-endian split
    * catches. Returns (byteOrderLE, orientation, pixelX, pixelY) or
    * None when there is no well-formed Exif APP1 (missing marker,
    * wrong "Exif\0\0" preamble, bad TIFF magic, truncated IFD) —
    * absence-of-metadata rejects, it never invents defaults.
    */
  def exifStats(b: Array[Byte]): Option[(Boolean, Long, Long, Long)] =
    try exifStatsImpl(b)
    catch { case scala.util.control.NonFatal(_) => None }

  private def exifStatsImpl(b: Array[Byte]): Option[(Boolean, Long, Long, Long)] = {
    if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8)
      return None // not a JPEG
    // marker walk to APP1/Exif
    var p = 2
    var app1 = -1
    var app1Len = 0
    while (app1 < 0) {
      if (p + 2 > b.length) return None
      if ((b(p) & 0xff) != 0xff) return None
      // legal fill: any number of repeated 0xFF padding bytes may
      // precede a marker byte — skip to the last 0xFF of the run
      while (p + 2 < b.length && (b(p + 1) & 0xff) == 0xff) p += 1
      val m = b(p + 1) & 0xff
      if (m == 0xd9 || m == 0xda) return None // EOI/SOS: no Exif present
      if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) {
        // standalone markers (TEM, RSTn) carry no length segment
        p += 2
      } else {
        if (p + 4 > b.length) return None
        val len = ((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff)
        if (len < 2 || p + 2 + len > b.length) return None
        // the EXIF preamble is the 6 bytes 'E','x','i','f',NUL,NUL
        if (m == 0xe1 && len >= 8 &&
          b(p + 4) == 'E' && b(p + 5) == 'x' && b(p + 6) == 'i' &&
          b(p + 7) == 'f' && b(p + 8) == 0 && b(p + 9) == 0) {
          app1 = p + 10 // TIFF header start
          app1Len = len - 8
        } else p += 2 + len
      }
    }
    val t = app1 // all TIFF offsets are relative to this
    if (app1Len < 8) return None
    val le =
      if (b(t) == 'I' && b(t + 1) == 'I') true
      else if (b(t) == 'M' && b(t + 1) == 'M') false
      else return None
    def u16(o: Int): Int =
      if (le) (b(t + o) & 0xff) | ((b(t + o + 1) & 0xff) << 8)
      else ((b(t + o) & 0xff) << 8) | (b(t + o + 1) & 0xff)
    def u32(o: Int): Long =
      if (le) (b(t + o) & 0xffL) | ((b(t + o + 1) & 0xffL) << 8) |
        ((b(t + o + 2) & 0xffL) << 16) | ((b(t + o + 3) & 0xffL) << 24)
      else ((b(t + o) & 0xffL) << 24) | ((b(t + o + 1) & 0xffL) << 16) |
        ((b(t + o + 2) & 0xffL) << 8) | (b(t + o + 3) & 0xffL)
    if (u16(2) != 42) return None
    var orientation = -1L
    var px = -1L
    var py = -1L
    def walkIfd(at: Int, depth: Int): Boolean = {
      if (at + 2 > app1Len) return false
      val n = u16(at)
      if (at + 2 + 12 * n + 4 > app1Len) return false
      var e = 0
      var exifIfd = -1L
      while (e < n) {
        val off = at + 2 + 12 * e
        val tag = u16(off)
        val typ = u16(off + 2)
        def value(): Long =
          if (typ == 3) u16(off + 8).toLong else u32(off + 8)
        tag match {
          case 274 => orientation = value()
          case 0xA002 => px = value()
          case 0xA003 => py = value()
          case 0x8769 => exifIfd = u32(off + 8)
          case _ => ()
        }
        e += 1
      }
      // follow the EXIF sub-IFD pointer from IFD0 only — a crafted
      // self-pointing sub-IFD must not recurse forever
      if (exifIfd >= 0 && depth == 0 && !walkIfd(exifIfd.toInt, depth + 1))
        return false
      true
    }
    if (!walkIfd(u32(4).toInt, 0)) return None
    if (orientation < 1 || orientation > 8 || px < 0 || py < 0) return None
    Some((le, orientation, px, py))
  }

  /** Deterministic JPEG-with-EXIF fixture: SOI + APP1(Exif, byte order
    * by `littleEndian`, IFD0 carrying orientation + the EXIF sub-IFD
    * pointer, sub-IFD carrying PixelX/YDimension) + the shared baseline
    * gradient JPEG's remaining segments (so the file also really
    * decodes).
    */
  def exifJpegBytes(width: Int, height: Int, littleEndian: Boolean,
      orientation: Int): Array[Byte] = {
    val jpeg = jpegBytes(width, height)
    def u16(v: Int): Array[Byte] =
      if (littleEndian) Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
      else Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def u32(v: Long): Array[Byte] =
      if (littleEndian) Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
      else Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def entry(tag: Int, typ: Int, count: Long, value: Array[Byte]): Array[Byte] =
      u16(tag) ++ u16(typ) ++ u32(count) ++ value.padTo(4, 0.toByte)
    // IFD0 at offset 8: 2 entries (orientation, exif pointer); sub-IFD
    // follows immediately after IFD0's next-IFD pointer
    val ifd0At = 8L
    val subAt = 8L + 2L + 2L * 12L + 4L
    val ifd0 = u16(2) ++
      entry(274, 3, 1, u16(orientation) ++ Array[Byte](0, 0)) ++
      entry(0x8769, 4, 1, u32(subAt)) ++
      u32(0)
    val sub = u16(2) ++
      entry(0xA002, 4, 1, u32(width.toLong)) ++
      entry(0xA003, 4, 1, u32(height.toLong)) ++
      u32(0)
    val tiff = (if (littleEndian) "II".getBytes else "MM".getBytes) ++
      u16(42) ++ u32(ifd0At) ++ ifd0 ++ sub
    val payload = "Exif".getBytes(
      java.nio.charset.StandardCharsets.US_ASCII) ++ Array[Byte](0, 0) ++ tiff
    val app1 = Array[Byte](0xff.toByte, 0xe1.toByte,
      (((payload.length + 2) >> 8) & 0xff).toByte,
      ((payload.length + 2) & 0xff).toByte) ++ payload
    // splice after SOI
    jpeg.take(2) ++ app1 ++ jpeg.drop(2)
  }
}
