package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Multimodal, Zstd, ZstdVectors}

/** What [[Zstd]] owns on top of libzstd: the frame walk's counts
  * (standard vs skippable frames), the accept set — every scope
  * boundary and corruption rejects whole-input, and a window up to
  * 1 GiB decodes — and the fixture-side frame builders. The embedded
  * [[ZstdVectors]] frames, made by the zstd CLI (v1.5.7) from
  * documented inputs, pin the decoded bytes.
  */
class ZstdSpec extends AnyFunSuite {

  test("every embedded real-compressor vector decodes byte-identically") {
    ZstdVectors.all.foreach { case (i, frame) =>
      val expect = ZstdVectors.inputText(i).getBytes("UTF-8")
      Zstd.decompress(frame) match {
        case Some((frames, sk, out)) =>
          assert(frames == 1L && sk == 0L)
          assert(java.util.Arrays.equals(out, expect),
            s"vector $i (${frame.length}B): ${out.length} vs ${expect.length}")
        case None => fail(s"vector $i rejected")
      }
    }
  }

  test("embedded jsonl.zst members decode to their closed-form text") {
    ZstdVectors.jsonl.foreach { case (i, frame) =>
      val Some((_, _, out)) = Zstd.decompress(frame): @unchecked
      assert(new String(out, "UTF-8") == ZstdVectors.jsonlText(i),
        s"jsonl vector $i")
    }
  }

  test("degenerate-shape members: all-zero and striped data decode exactly") {
    val Some((_, _, z)) = Zstd.decompress(ZstdVectors.zeros20k): @unchecked
    assert(z.length == 20000 && z.forall(_ == 0))
    val Some((_, _, a)) = Zstd.decompress(ZstdVectors.altStripes): @unchecked
    val expect = (("A" * 500) + ("B" * 500)) * 12
    assert(new String(a, "UTF-8") == expect)
  }

  test("raw/RLE frame builders round-trip, with verified checksums") {
    val content = (0 until 500).map(i => ('a' + i % 26).toChar).mkString
      .getBytes("UTF-8")
    val Some((f1, _, o1)) = Zstd.decompress(Zstd.rawFrame(content)): @unchecked
    assert(f1 == 1L && java.util.Arrays.equals(o1, content))
    val Some((_, _, o2)) = Zstd.decompress(Zstd.rleFrame('z', 777)): @unchecked
    assert(o2.length == 777 && o2.forall(_ == 'z'))
    // concatenation: skippable + raw + CLI frame
    val cat = Zstd.skippableFrame("ignored metadata".getBytes) ++
      Zstd.rawFrame(content) ++ ZstdVectors.v0L19
    val Some((frames, sk, out)) = Zstd.decompress(cat): @unchecked
    assert(frames == 2L && sk == 1L)
    assert(new String(out, "UTF-8") ==
      new String(content, "UTF-8") + ZstdVectors.inputText(0))
  }

  test("xxh64 matches the published reference values") {
    // XXH64 official test vectors (seed 0)
    assert(Zstd.xxh64(Array.emptyByteArray) == 0xEF46DB3751D8E999L)
    // and self-consistency: a corrupted checksum must reject
    val frame = Zstd.rawFrame("checksum me".getBytes)
    val bad = frame.clone()
    bad(bad.length - 1) = (bad(bad.length - 1) ^ 0x5a).toByte
    assert(Zstd.decompress(bad).isEmpty)
  }

  test("scope boundaries and corruption reject whole-input") {
    val good = ZstdVectors.v2L19
    assert(Zstd.decompress(Array[Byte](1, 2, 3, 4, 5)).isEmpty) // bad magic
    assert(Zstd.decompress(good.dropRight(3)).isEmpty) // truncated
    assert(Zstd.decompress(good.take(9)).isEmpty) // inside header
    // flip a byte mid-frame: either structure or checksum catches it
    for (at <- Seq(12, 40, good.length - 6)) {
      val b = good.clone()
      b(at) = (b(at) ^ 0xff).toByte
      assert(Zstd.decompress(b).isEmpty, s"corruption at $at accepted")
    }
    // dictionary frames reject: set the DID flag + a nonzero id
    val dict = good.clone()
    dict(4) = (dict(4) | 0x01).toByte // DID_flag = 1 -> 1-byte id follows
    assert(Zstd.decompress(dict).isEmpty)
    // reserved block type: craft header with type 3
    val res = Zstd.rawFrame("x".getBytes).clone()
    res(9) = (res(9) | 0x06).toByte // block type bits -> 3
    assert(Zstd.decompress(res).isEmpty)
    // output cap honored
    assert(Zstd.decompress(Zstd.rleFrame('y', 100000), maxOut = 1000).isEmpty)
    // empty input is not a frame
    assert(Zstd.decompress(Array.emptyByteArray).isEmpty)
  }

  test("the window boundary: 1 GiB decodes, 2 GiB rejects") {
    // raw frames re-headed as non-single-segment (FHD 0x84: 4-byte FCS,
    // checksum) with a window descriptor of exponent e and mantissa 0,
    // i.e. a 2^(10 + e)-byte window; the same blocks and checksum
    def windowed(content: Array[Byte], e: Int): Array[Byte] = {
      val single = Zstd.rawFrame(content)
      single.take(4) ++ Array(0x84.toByte, (e << 3).toByte) ++ single.drop(5)
    }
    // content larger than the decoder's read buffer goes through
    // libzstd's window buffer; small content decodes in one pass
    val large = Array.tabulate(100000)(i => ('a' + i % 23).toByte)
    val small = "windowed raw frame".getBytes("UTF-8")
    for (content <- Seq(large, small)) {
      val Some((frames, sk, out)) = Zstd.decompress(windowed(content, 20)): @unchecked
      assert(frames == 1L && sk == 0L && java.util.Arrays.equals(out, content))
      assert(Zstd.decompress(windowed(content, 21)).isEmpty, s"${content.length}B at 2 GiB")
    }
  }

  test("the sniffer routes and validates the zstd family") {
    assert(Multimodal.sniffKind(ZstdVectors.v1L1) == "zstd")
    assert(Multimodal.sniffValid("zstd", ZstdVectors.v1L1))
    val bad = ZstdVectors.v1L1.clone()
    bad(bad.length - 1) = (bad(bad.length - 1) ^ 1).toByte
    assert(Multimodal.sniffKind(bad) == "zstd" && !Multimodal.sniffValid("zstd", bad))
  }
}
