package graft

import graft.operators.Multimodal
import org.scalatest.funsuite.AnyFunSuite

/** The PNG, JPEG and WARC fixture writers pin their exact bytes: one
  * SHA-256 per writer over its outputs for the 25 nation-keyed
  * geometries the catalog queries write plus a few corner sizes. Byte
  * identity matters beyond the decoders' closed forms:
  * `ns_multimodal_pixel_dedup` hashes container bytes, so a writer that
  * re-encodes the same pixels differently changes an answer.
  */
class FixtureBytesSpec extends AnyFunSuite {

  private val geoms: Seq[(Int, Int, Int)] =
    (0 until 25).map(k => (k, 16 + k, 10 + k % 7)) ++
      Seq((1, 1, 1), (2, 1, 2), (3, 2, 3), (4, 3, 1), (5, 8, 8), (6, 9, 17))

  private def digest(outputs: Seq[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    outputs.foreach { b =>
      md.update(java.nio.ByteBuffer.allocate(4).putInt(b.length).array())
      md.update(b)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  private val writers: Seq[(String, (Int, Int, Int) => Array[Byte])] = Seq(
    "pngBytes" -> ((_, w, h) => Multimodal.pngBytes(w, h)),
    "pngGradientBytes" -> ((_, w, h) => Multimodal.pngGradientBytes(w, h)),
    "pngGradientBytes(level)" -> ((k, w, h) => Multimodal.pngGradientBytes(w, h, 1 + k % 9)),
    "pngInterlacedGradientBytes" -> ((_, w, h) => Multimodal.pngInterlacedGradientBytes(w, h)),
    "pngFilteredGradientBytes" -> ((_, w, h) => Multimodal.pngFilteredGradientBytes(w, h)),
    "pngGrayBytes" -> ((_, w, h) => Multimodal.pngGrayBytes(w, h)),
    "pngPaletteBytes" -> ((k, w, h) => Multimodal.pngPaletteBytes(w, h, k % 10)),
    "pngPaletteTrnsBytes" -> ((_, w, h) => Multimodal.pngPaletteTrnsBytes(w, h)),
    "pngPaletteAsRgbBytes" -> ((k, w, h) => Multimodal.pngPaletteAsRgbBytes(w, h, k % 10)),
    "pngPaletteAsRgbaBytes" -> ((k, w, h) => Multimodal.pngPaletteAsRgbaBytes(w, h, k % 10)),
    "pngRgbaBytes" -> ((k, w, h) => Multimodal.pngRgbaBytes(w, h, translucent = k % 2 == 0)),
    "pngGrayAlphaBytes" -> ((k, w, h) => Multimodal.pngGrayAlphaBytes(w, h, translucent = k % 2 == 0)),
    "jpegBytes" -> ((_, w, h) => Multimodal.jpegBytes(w, h)),
    "jpegDcPatternBytes" -> ((_, w, h) => Multimodal.jpegDcPatternBytes(w, h)),
    "jpegDcColorPatternBytes" -> ((k, w, h) =>
      Multimodal.jpegDcColorPatternBytes(w, h, chromaMotion = k % 2 == 0)),
    "jpegDcSubPatternBytes" -> ((k, w, h) =>
      Multimodal.jpegDcSubPatternBytes(w, h, restartEvery = k % 3,
        samp = Seq(0x22, 0x21, 0x12, 0x41)(k % 4))),
    "jpegDcProgPatternBytes" -> ((k, w, h) =>
      Multimodal.jpegDcProgPatternBytes(w, h, restartEvery = k % 3)))

  private val pinned: Map[String, String] = Map(
    "pngBytes" -> "dd843ace2efda7b12907bfb87d1053fdc621efd94583fc2f0b5226272c43a483",
    "pngGradientBytes" -> "d8219661a78aa8c12d2d1a2a9797dce67e60d690a29f42cda4e9430c62052746",
    "pngGradientBytes(level)" -> "0abb9204ec16a95e374bb1cb74921b3486f0eef65b8c252d53a41aa99ca8c649",
    "pngInterlacedGradientBytes" -> "bcdfff94ad2105a6fa1a9a873e82b17c719b143d03be82aa750e0c267e770be5",
    "pngFilteredGradientBytes" -> "07ba331277b2d8ad7b59972e584d89133ba5713e3df105888a091fab66178ede",
    "pngGrayBytes" -> "bff6519b5dbbbb6ea89c92bcf4a893756171cee52c76edf3c208af176354d506",
    "pngPaletteBytes" -> "f2ed43ae32a41b66d6d81affb7dc01908c291415c427a1a08e176048126a477f",
    "pngPaletteTrnsBytes" -> "7f682501876f2245922d5f7235a74a7b8f32f2e302aa6f4774177a16ab116b01",
    "pngPaletteAsRgbBytes" -> "d98b6eb9ed31ea9d8e6d42d2810043e8a2190ae9569b7ffeed33b6702286da23",
    "pngPaletteAsRgbaBytes" -> "219d6b376f22a56569a7c380f21541ff8b1b6179e4438fa4fcff40b9edbc8b72",
    "pngRgbaBytes" -> "836050da82e102b91f89f64889f479588b33fb6ce167b6abc25f51686dae0c7b",
    "pngGrayAlphaBytes" -> "da8bc4448f2ccf858b4e5b3d6f3317e289996250313a372c725be0a65086cee8",
    "jpegBytes" -> "78632531dbf77cf7d4440e22f70ecaf12e3de30008990429a068bd53ae167295",
    "jpegDcPatternBytes" -> "86e470771a6bd4b01752f95f119705eb58505e2c09ae9ed537752d4238b44c52",
    "jpegDcColorPatternBytes" -> "69e471b55ade8b3a095dedd9e783e1b599fbcf69c557741a55fd98dd99a3d1c1",
    "jpegDcSubPatternBytes" -> "70d3cdedde0ace53760b321b6c91906c033245ce7482b816c6d4322a357c8cfa",
    "jpegDcProgPatternBytes" -> "c43a984d4e9b05fb655220ea8158be2c34c076e257f8a3d74601aa5902f4d0f5")

  test("PNG and JPEG fixture writers produce their pinned bytes") {
    val got = writers.map { case (name, f) =>
      name -> digest(geoms.map { case (k, w, h) => f(k, w, h) })
    }
    got.foreach { case (name, d) =>
      assert(pinned.get(name).contains(d), s"$name wrote different bytes: $d")
    }
  }

  /** (tag, record count) pairs for the WARC writers: 1..12 records per
    * file covers both catalog queries' sizes, chunked and plain
    * responses and the request interleave; 0 and 20 are the corners. */
  private val warcSizes: Seq[(Int, Int)] =
    (0 until 25).map(k => (k, 1 + k % 12)) ++ Seq((7, 0), (9, 20))

  private val warcPinned: Map[String, String] = Map(
    "warcBytes" -> "862d74d79eba399b714daf3f411f038db5332038713674e55ae5832999d24ca3",
    "warcHttpBytes" -> "f40cdbae76e4aa04ca92210c4298b357cf7f6ba277c7ef4e21b818ca757d97a4",
    "warcHtmlBytes" -> "9afa6f20138779d690337118b06a990422c797b78434b2960627a3581026d355")

  test("WARC fixture writers produce their pinned bytes") {
    val got = Seq(
      "warcBytes" -> digest(warcSizes.map { case (t, n) => Multimodal.warcBytes(t, n) }),
      "warcHttpBytes" -> digest(warcSizes.map { case (t, n) => Multimodal.warcHttpBytes(t, n) }),
      "warcHtmlBytes" -> digest(warcSizes.map { case (t, n) => Multimodal.warcHtmlBytes(t, n) }))
    assert(got.toMap == warcPinned)
  }
}
