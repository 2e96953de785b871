package graft

import graft.operators.Multimodal
import graft.operators.Multimodal.{MediaFeatures, MediaRow}

/** Multimodal plumbing: batch decode path over typed binary rows. */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("decodeFeatures runs per-partition and derives stable features") {
    val rows = Seq(
      MediaRow(1L, Array[Byte](1, 2, 3, 4, 9, 9), "image"),
      MediaRow(2L, Array[Byte](-1, -1, 0, 0), "audio"))
    val out = Multimodal.decodeFeatures(rows.toDS().repartition(2))
      .collect().sortBy(_.doc_id)
    assert(out(0) === MediaFeatures(1L, "image", 6, 0x01020304L,
      0x01020304L.toDouble / (1L << 32).toDouble))
    assert(out(1).magic === 0xFFFF0000L)
    assert(out(1).n_bytes === 4)
  }

  test("decodeImage: real javax.imageio pixels from a golden in-memory PNG") {
    import java.awt.image.BufferedImage
    val img = new BufferedImage(3, 2, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 3) img.setRGB(x, y, 0x081018) // rgb(8,16,24)
    img.setRGB(2, 1, 0xffffff) // one white pixel
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val Some((fmt, w, h, luma)) = Multimodal.decodeImage(bos.toByteArray)
    assert(fmt === "png" && w === 3 && h === 2)
    // 5 pixels of luma (8+16+24)/3=16 and one of 255: (5*48 + 765) / 18
    assert(luma === (5 * 48 + 765).toDouble / 18.0)
  }

  test("decodeImage: undecodable payload yields None; sniffFormat reads magics") {
    assert(Multimodal.decodeImage("not an image".getBytes) === None)
    assert(Multimodal.decodeImage(Array.empty[Byte]) === None)
    assert(Multimodal.sniffFormat(Array[Byte](0x89.toByte, 'P', 'N', 'G')) === "png")
    assert(Multimodal.sniffFormat(Array[Byte](0xff.toByte, 0xd8.toByte, 1)) === "jpeg")
    assert(Multimodal.sniffFormat("BM??".getBytes) === "bmp")
    assert(Multimodal.sniffFormat("GIF89a".getBytes) === "gif")
    assert(Multimodal.sniffFormat("??".getBytes) === "unknown")
  }

  test("decodeImageMeta: distributed decode keeps undecodables out, stats exact") {
    import java.awt.image.BufferedImage
    def png(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val media = Seq(
      MediaRow(1L, png(2, 2, 0x000000), "image"),  // black: luma 0
      MediaRow(2L, png(4, 3, 0xffffff), "image"),  // white: luma 255
      MediaRow(3L, "garbage".getBytes, "image")    // dropped
    ).toDS().repartition(2)
    val out = Multimodal.decodeImageMeta(media).collect().sortBy(_.doc_id)
    assert(out.map(_.doc_id).toSeq === Seq(1L, 2L))
    assert(out(0).mean_luma === 0.0 && out(0).n_pixels === 4L)
    assert(out(1).mean_luma === 255.0 && out(1).width === 4 && out(1).height === 3)
  }

  test("aHash: uniform images hash 0, the vertical checker hits 0xCC rows, near-dups pair") {
    import java.awt.image.BufferedImage
    def png(build: BufferedImage => Unit, w: Int, h: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      build(img)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val uniform = png(i => for (y <- 0 until 2; x <- 0 until 2) i.setRGB(x, y, 0x808080), 2, 2)
    // 4 columns b/w/b/w -> NN 8x8 sets bits at x in {2,3,6,7} of every row
    val checker = png(i => { i.setRGB(1, 0, 0xffffff); i.setRGB(3, 0, 0xffffff) }, 4, 1)
    assert(Multimodal.aHash(uniform).get === 0L)
    assert(Multimodal.aHash(checker).get === 0xCCCCCCCCCCCCCCCCL)
    assert(Multimodal.aHash(checker) === Multimodal.aHash(checker)) // deterministic
    assert(Multimodal.aHash("junk".getBytes).isEmpty)
    // near-dup join: two uniforms collide (hamming 0), the checker stands off
    val media = Seq(
      MediaRow(1L, uniform, "image"), MediaRow(2L, checker, "image"),
      MediaRow(3L, png(i => for (y <- 0 until 3; x <- 0 until 3)
        i.setRGB(x, y, 0x112233), 3, 3), "image")
    ).toDS().repartition(3)
    val pairs = Multimodal.imageNearDups(media, maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs === Set((1L, 3L, 0L)))
  }

  test("resizeImageNN samples exact source pixels (no interpolation)") {
    import java.awt.image.BufferedImage
    // 4x1 black/white checker: NN to 2x2 must sample source columns {0,2}
    // (both black) — any averaging interpolation would yield gray
    val img = new BufferedImage(4, 1, BufferedImage.TYPE_INT_RGB)
    img.setRGB(1, 0, 0xffffff); img.setRGB(3, 0, 0xffffff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    assert(Multimodal.resizeImageNN(bos.toByteArray, 2, 2) === Some((2, 2, 0.0, 0L)))
    // upscale: 1x1 red to 3x3 stays pure red everywhere
    val one = new BufferedImage(1, 1, BufferedImage.TYPE_INT_RGB)
    one.setRGB(0, 0, 0xff0000)
    val b2 = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(one, "png", b2)
    assert(Multimodal.resizeImageNN(b2.toByteArray, 3, 3) === Some((3, 3, 85.0, 0xff0000L)))
    assert(Multimodal.resizeImageNN("junk".getBytes, 2, 2) === None)
  }

  test("audioFingerprint: deterministic, silence hashes 0, non-WAV rejected") {
    val wav = Multimodal.buildWavPcm(8000, 1, 8, 2000)
    assert(Multimodal.audioFingerprint(wav).isDefined)
    assert(Multimodal.audioFingerprint(wav) === Multimodal.audioFingerprint(wav.clone()))
    // constant-128 PCM (silence for unsigned 8-bit): every frame energy 0,
    // 64*0 > 0 is false -> all bits clear
    val silent = wav.clone()
    java.util.Arrays.fill(silent, 44, silent.length, 128.toByte)
    assert(Multimodal.audioFingerprint(silent).get === 0L)
    assert(Multimodal.audioFingerprint("nope".getBytes).isEmpty)
  }

  test("wavMeta round-trips buildWavPcm and rejects non-RIFF payloads") {
    val wav = Multimodal.buildWavPcm(rate = 16000, channels = 2, bits = 16, nSamples = 800)
    assert(Multimodal.wavMeta(wav) === Some((16000, 2, 16, 800L, 50.0)))
    assert(Multimodal.wavMeta("RIFFxxxxNOPE".getBytes) === None)
    assert(Multimodal.wavMeta(Array.empty[Byte]) === None)
    // truncated mid-header
    assert(Multimodal.wavMeta(java.util.Arrays.copyOf(wav, 20)) === None)
    // corrupt chunk size (0xFFFFFFFF) must terminate the walk, not loop:
    // a negative int size used to move the cursor BACKWARDS forever
    val evil = Multimodal.buildWavPcm(rate = 8000, channels = 1, bits = 16, nSamples = 4)
    val bb = java.nio.ByteBuffer.wrap(evil).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(16, 0xffffffff) // fmt chunk size -> garbage
    assert(Multimodal.wavMeta(evil) === None) // returns (doesn't hang), no meta
    // non-PCM format tag (2 = MS ADPCM): sub-byte frames would misprice
    // the sample count — must be None, not an ArithmeticException
    val adpcm = Multimodal.buildWavPcm(rate = 8000, channels = 1, bits = 16, nSamples = 4)
    val ab = java.nio.ByteBuffer.wrap(adpcm).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    ab.putShort(20, 2.toShort) // fmt audioFormat tag
    ab.putShort(34, 4.toShort) // 4-bit samples: channels*bits/8 would be 0
    assert(Multimodal.wavMeta(adpcm) === None)
    // PCM but sub-byte frame size (mono 4-bit): divisor would be zero
    val subByte = Multimodal.buildWavPcm(rate = 8000, channels = 1, bits = 16, nSamples = 4)
    java.nio.ByteBuffer.wrap(subByte).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putShort(34, 4.toShort)
    assert(Multimodal.wavMeta(subByte) === None)
    // data chunk declaring a size past the payload = truncated file -> None,
    // never a sample count derived from the bogus declared length
    val trunc = Multimodal.buildWavPcm(rate = 8000, channels = 1, bits = 16, nSamples = 4)
    java.nio.ByteBuffer.wrap(trunc).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(40, 4096) // declared data size >> actual 8-byte payload
    assert(Multimodal.wavMeta(trunc) === None)
  }

  test("decodeStub is deterministic") {
    val p = Array[Byte](10, 20, 30, 40, 50)
    assert(Multimodal.decodeStub(p) === Multimodal.decodeStub(p))
  }

  test("frameSample emits strided fixed-size chunks") {
    val media = Seq(MediaRow(7L, Array.tabulate[Byte](10)(_.toByte), "video")).toDS()
    val frames = Multimodal.frameSample(media, frameBytes = 2, stride = 2)
      .collect().sortBy(_.frame_idx)
    assert(frames.map(_.frame_idx).toSeq === Seq(0, 2, 4)) // 5 chunks, every 2nd
    assert(frames(1).frame.toSeq === Seq[Byte](4, 5))
  }
}
