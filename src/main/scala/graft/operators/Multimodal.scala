package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, processed per-partition in batches.
  *
  * IMAGE decode and resize are REAL ([[decodeImage]] / [[decodeImageMeta]] /
  * [[resizeImageNN]]): `javax.imageio` ships in the JVM, so PNG/BMP/GIF/
  * JPEG payloads decode to actual pixels with no external library, and
  * resize is an explicit nearest-neighbor sampling loop (deterministic
  * across JVMs, unlike Graphics2D interpolation). AUDIO metadata is REAL
  * for WAV/PCM ([[wavMeta]] — canonical RIFF byte layout, no library).
  * Compressed-audio/VIDEO decode stays STUBBED (no codec libraries in
  * this container): [[decodeStub]] derives deterministic fake features
  * from the payload bytes. Either way the plumbing — schema, batch
  * iteration, partitioning — is identical: a narrow mapPartitions with
  * per-partition decoder init, no shuffle, exactly the role a Python
  * pipeline gives `mapInPandas`.
  */
object Multimodal {

  /** Typed record for the per-partition decode path. */
  final case class MediaRow(doc_id: Long, payload: Array[Byte], media_type: String)
  final case class MediaFeatures(doc_id: Long, media_type: String,
                                 n_bytes: Int, magic: Long, feature: Double)

  /** STUB decoder — deterministic fake in place of a real codec.
    * Real implementation would decode `payload` (JPEG/WAV/MP4) here.
    */
  def decodeStub(payload: Array[Byte]): (Long, Double) = {
    val magic = payload.take(4).foldLeft(0L)((a, b) => (a << 8) | (b & 0xff))
    val feature = magic.toDouble / (1L << 32).toDouble // fake normalized feature
    (magic, feature)
  }

  /** Column-algebra metadata extraction (no stub needed): byte length, magic
    * int, fake type sniff. Pure codegen'd expressions — the oracle-checkable
    * part of the multimodal path.
    */
  def mediaMeta(docs: DataFrame, payloadCol: String = "payload"): DataFrame =
    docs.select(
      col("doc_id"),
      length(col(payloadCol)).cast("long").as("n_bytes"),
      conv(substring(hex(col(payloadCol)), 1, 8), 16, 10).cast("long").as("magic"))
      .select(col("doc_id"), col("n_bytes"), col("magic"),
        // derived from the magic COLUMN so the two can't silently diverge
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("magic") % 3 + 1).cast("int")).as("media_type"))

  /** Batch decode via typed mapPartitions: decoder init once per partition,
    * rows streamed — the Scala analog of a Pandas-UDF `mapInPandas` stage.
    */
  def decodeFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    implicit val enc = Encoders.product[MediaFeatures]
    media.mapPartitions { it =>
      // real pipeline: initialize codec/session here, once per partition
      it.map { r =>
        val (magic, feature) = decodeStub(r.payload)
        MediaFeatures(r.doc_id, r.media_type, r.payload.length, magic, feature)
      }
    }
  }

  final case class ImageMeta(doc_id: Long, format: String, width: Int, height: Int,
                             n_pixels: Long, mean_luma: Double)

  /** Container sniff from magic bytes (PNG/JPEG/GIF/BMP — the formats
    * javax.imageio decodes out of the box).
    */
  def sniffFormat(payload: Array[Byte]): String =
    if (payload.length >= 4 && (payload(0) & 0xff) == 0x89 && payload(1) == 'P' &&
        payload(2) == 'N' && payload(3) == 'G') "png"
    else if (payload.length >= 2 && (payload(0) & 0xff) == 0xff && (payload(1) & 0xff) == 0xd8) "jpeg"
    else if (payload.length >= 3 && payload(0) == 'G' && payload(1) == 'I' && payload(2) == 'F') "gif"
    else if (payload.length >= 2 && payload(0) == 'B' && payload(1) == 'M') "bmp"
    else "unknown"

  /** REAL image decode — no stub: `javax.imageio` ships in the JVM, so
    * PNG/BMP/GIF/JPEG payloads decode to actual pixels. Returns
    * (format, width, height, mean luminance) where mean luminance is the
    * exact average of (r+g+b)/3 over every pixel — integer channel sums
    * divided once, so the double is deterministic across partitionings.
    * Undecodable payloads yield None (tolerate + account stance).
    */
  def decodeImage(payload: Array[Byte]): Option[(String, Int, Int, Double)] = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case _: Exception => null }
    if (img == null) None
    else {
      val w = img.getWidth
      val h = img.getHeight
      var sum = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
          x += 1
        }
        y += 1
      }
      Some((sniffFormat(payload), w, h, sum.toDouble / (3.0 * w * h)))
    }
  }

  /** Batch image decode, same narrow mapPartitions shape as
    * [[decodeFeatures]] but with the REAL decoder: per-partition init
    * (ImageIO temp-file cache off — executors shouldn't touch disk per
    * image), rows streamed, undecodable payloads dropped.
    */
  def decodeImageMeta(media: Dataset[MediaRow]): Dataset[ImageMeta] = {
    implicit val enc = Encoders.product[ImageMeta]
    media.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false) // once per partition
      it.flatMap { r =>
        decodeImage(r.payload).map { case (fmt, w, h, luma) =>
          ImageMeta(r.doc_id, fmt, w, h, w.toLong * h, luma)
        }
      }
    }
  }

  /** REAL image resize — nearest-neighbor with an explicit sampling loop
    * (`src = floor(dst * srcDim / dstDim)`), NOT Graphics2D interpolation,
    * so the resized pixels are bit-deterministic across JVMs and
    * partitionings. Returns the resized image's exact mean luminance plus
    * its corner pixel (sanity-checkable against hand-derived values).
    */
  def resizeImageNN(payload: Array[Byte], outW: Int, outH: Int): Option[(Int, Int, Double, Long)] = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case _: Exception => null }
    if (img == null || outW <= 0 || outH <= 0) None
    else {
      val (sw, sh) = (img.getWidth, img.getHeight)
      var sum = 0L
      var corner = 0L
      var y = 0
      while (y < outH) {
        val sy = y * sh / outH
        var x = 0
        while (x < outW) {
          val sx = x * sw / outW
          val rgb = img.getRGB(sx, sy) & 0xffffff
          sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
          if (x == 0 && y == 0) corner = rgb
          x += 1
        }
        y += 1
      }
      Some((outW, outH, sum.toDouble / (3.0 * outW * outH), corner))
    }
  }

  final case class ResizedMeta(doc_id: Long, width: Int, height: Int,
                               mean_luma: Double, corner_rgb: Long)

  /** Batch NN resize — same narrow mapPartitions shape; undecodables drop. */
  def resizeImages(media: Dataset[MediaRow], outW: Int, outH: Int): Dataset[ResizedMeta] = {
    implicit val enc = Encoders.product[ResizedMeta]
    media.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.flatMap { r =>
        resizeImageNN(r.payload, outW, outH).map { case (w, h, luma, corner) =>
          ResizedMeta(r.doc_id, w, h, luma, corner)
        }
      }
    }
  }

  /** Perceptual average-hash (aHash) — the image-dedup signature: NN
    * downsample to 8×8 integer grays (sum of channels, 0..765 — no float
    * division anywhere), bit (y*8+x) set iff `64 * gray > sum(grays)`
    * (exact integer compare instead of a float mean). Structure-free
    * (uniform) images all hash to 0 — the documented aHash property:
    * it keys on STRUCTURE, so pair it with mean_luma for flat images.
    */
  def aHash(payload: Array[Byte]): Option[Long] = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case _: Exception => null }
    if (img == null) None
    else {
      val (sw, sh) = (img.getWidth, img.getHeight)
      val gray = new Array[Long](64)
      var total = 0L
      var y = 0
      while (y < 8) {
        val sy = y * sh / 8
        var x = 0
        while (x < 8) {
          val sx = x * sw / 8
          val rgb = img.getRGB(sx, sy)
          val g = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
          gray(y * 8 + x) = g
          total += g
          x += 1
        }
        y += 1
      }
      var h = 0L
      var i = 0
      while (i < 64) {
        if (gray(i) * 64L > total) h |= (1L << i)
        i += 1
      }
      Some(h)
    }
  }

  /** Difference hash (dHash, Krawetz 2013): sample a 9×8 grayscale grid
    * (nearest-neighbor, the [[aHash]] convention) and set bit (y·8+x)
    * when the right neighbor is strictly brighter — a GRADIENT
    * signature, unlike [[aHash]]'s mean-threshold one, so uniform fills
    * of ANY brightness hash to 0 and only structure separates images.
    * Integer-only: the bit is g(x+1,y) > g(x,y) on summed-RGB values,
    * no mean, no division — deterministic by construction.
    */
  def dHash(payload: Array[Byte]): Option[Long] = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case _: Exception => null }
    if (img == null) None
    else {
      val (sw, sh) = (img.getWidth, img.getHeight)
      def g(x: Int, y: Int): Long = {
        val rgb = img.getRGB(x * sw / 9, y * sh / 8)
        ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
      }
      var h = 0L
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          if (g(x + 1, y) > g(x, y)) h |= (1L << (y * 8 + x))
          x += 1
        }
        y += 1
      }
      Some(h)
    }
  }

  final case class ImageDHash(doc_id: Long, dhash: Long)

  def imageDHashes(media: Dataset[MediaRow]): Dataset[ImageDHash] = {
    implicit val enc = Encoders.product[ImageDHash]
    media.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.flatMap(r => dHash(r.payload).map(ImageDHash(r.doc_id, _)))
    }
  }

  final case class ImageHash(doc_id: Long, ahash: Long)

  def imageHashes(media: Dataset[MediaRow]): Dataset[ImageHash] = {
    implicit val enc = Encoders.product[ImageHash]
    media.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.flatMap(r => aHash(r.payload).map(ImageHash(r.doc_id, _)))
    }
  }

  /** Image near-duplicate pairs via banded aHash — the SimHash recipe
    * applied to pixels: the 64-bit hash splits into 4×16-bit bands, pairs
    * sharing any band are candidates (EXACT recall at hamming <= 3 — four
    * disjoint bands can't all differ), and `bit_count(xor)` verifies.
    * Candidate generation is an equi-join on (band, key) — never
    * image × image.
    */
  def imageNearDups(media: Dataset[MediaRow], maxHamming: Int): DataFrame = {
    require(maxHamming <= 3, "4x16-bit banding guarantees recall only to hamming 3")
    val h = imageHashes(media).toDF()
    val bands = h.select(col("doc_id"), col("ahash"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("ahash"), b * 16).bitwiseAND(lit(0xffffL)).as("key"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("ahash"), col("bk.band").as("band"),
        col("bk.key").as("key"))
    val l = bands.select(col("band"), col("key"),
      col("doc_id").as("a_id"), col("ahash").as("ha"))
    val r = bands.select(col("band"), col("key"),
      col("doc_id").as("b_id"), col("ahash").as("hb"))
    l.join(r, Seq("band", "key"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("ha"), col("hb"))
      .distinct()
      .withColumn("hamming", expr("bit_count(ha ^ hb)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  final case class WavMeta(doc_id: Long, sample_rate: Int, channels: Int,
                           bits_per_sample: Int, n_samples: Long, duration_ms: Double)

  /** REAL audio metadata — canonical RIFF/WAVE PCM header parse (public
    * byte layout, no library needed): 'RIFF' @0, 'WAVE' @8, then chunks of
    * (4-byte id, LE uint32 size); 'fmt ' carries the format tag LE@0 (must
    * be 1 = integer PCM — compressed formats like ADPCM have sub-byte
    * frames the sample-count arithmetic below would misprice), channels
    * LE@2, sample rate LE@4, bits-per-sample LE@14; 'data' size gives the
    * sample count. Non-WAV / non-PCM / truncated payloads yield None.
    */
  def wavMeta(payload: Array[Byte]): Option[(Int, Int, Int, Long, Double)] = {
    if (payload.length < 44) return None
    val bb = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(off: Int) = new String(payload, off, 4, "US-ASCII")
    if (tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var off = 12
    var rate, channels, bits = -1
    var fmtTag = -1
    var dataLen = -1L
    var ok = true
    while (ok && off + 8 <= payload.length && (rate < 0 || dataLen < 0)) {
      val id = tag(off)
      val size = bb.getInt(off + 4).toLong & 0xffffffffL
      val fits = size <= Int.MaxValue - 9 && off + 8 + size <= payload.length
      if (id == "fmt " && off + 24 <= payload.length) {
        fmtTag = bb.getShort(off + 8) & 0xffff
        channels = bb.getShort(off + 8 + 2) & 0xffff
        rate = bb.getInt(off + 8 + 4)
        bits = bb.getShort(off + 8 + 14) & 0xffff
      } else if (id == "data") {
        // a declared data size pointing past the payload is a truncated
        // file — the contract says those yield None, not a sample count
        // derived from the bogus declared length
        if (!fits) return None
        dataLen = size
      }
      // corrupt size on any other chunk (negative after truncation, or
      // pointing past the payload) would move the cursor backwards —
      // treat as terminator
      if (!fits) ok = false
      else off += 8 + size.toInt + (size.toInt & 1) // chunks are word-aligned
    }
    val frameBytes = channels.toLong * bits // still in bits here
    if (fmtTag != 1 || rate <= 0 || channels <= 0 || bits <= 0 || dataLen < 0 ||
        frameBytes % 8 != 0 || frameBytes / 8 == 0) None
    else {
      val nSamples = dataLen / (frameBytes / 8)
      Some((rate, channels, bits, nSamples, nSamples * 1000.0 / rate))
    }
  }

  /** Audio fingerprint — the WAV analog of [[aHash]] for audio dedup: the
    * PCM payload splits into 64 equal byte frames, frame energy = exact
    * integer sum of |byte − 128| (byte-level, bit-depth-agnostic — the
    * dedup use case keys on payload similarity, not acoustics), and bit i
    * is set iff `64 * energy_i > total` — the same exact-integer
    * threshold as the image hash, so no float appears anywhere.
    * Non-PCM / truncated payloads yield None ([[wavMeta]] is the gate).
    */
  def audioFingerprint(payload: Array[Byte]): Option[Long] = {
    if (wavMeta(payload).isEmpty) return None
    val bb = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(off: Int) = new String(payload, off, 4, "US-ASCII")
    var off = 12
    var dataOff = -1
    var dataLen = -1
    while (dataOff < 0 && off + 8 <= payload.length) {
      val size = (bb.getInt(off + 4).toLong & 0xffffffffL).toInt
      if (tag(off) == "data") { dataOff = off + 8; dataLen = size }
      else off += 8 + size + (size & 1)
    }
    if (dataOff < 0 || dataLen <= 0) None // unreachable given wavMeta, kept defensive
    else {
      val energy = new Array[Long](64)
      var total = 0L
      var i = 0
      while (i < 64) {
        var p = dataOff + (i.toLong * dataLen / 64).toInt
        val end = dataOff + ((i + 1).toLong * dataLen / 64).toInt
        var e = 0L
        while (p < end) { e += math.abs((payload(p) & 0xff) - 128); p += 1 }
        energy(i) = e
        total += e
        i += 1
      }
      var h = 0L
      i = 0
      while (i < 64) { if (energy(i) * 64L > total) h |= (1L << i); i += 1 }
      Some(h)
    }
  }

  final case class AudioPrint(doc_id: Long, fingerprint: Long)

  def audioFingerprints(media: Dataset[MediaRow]): Dataset[AudioPrint] = {
    implicit val enc = Encoders.product[AudioPrint]
    media.flatMap(r => audioFingerprint(r.payload).map(AudioPrint(r.doc_id, _)))
  }

  /** Writer complement of [[wavMeta]]: canonical 44-byte-header PCM WAV
    * with deterministic payload bytes — used by fixtures and tests.
    */
  def buildWavPcm(rate: Int, channels: Int, bits: Int, nSamples: Long): Array[Byte] = {
    val dataLen = (nSamples * channels * bits / 8).toInt
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + dataLen)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(16)
    bb.putShort(1); bb.putShort(channels.toShort) // PCM
    bb.putInt(rate); bb.putInt(rate * channels * bits / 8)
    bb.putShort((channels * bits / 8).toShort); bb.putShort(bits.toShort)
    bb.put("data".getBytes("US-ASCII")); bb.putInt(dataLen)
    var i = 0
    while (i < dataLen) { bb.put(((i * 31) & 0xff).toByte); i += 1 }
    bb.array()
  }

  /** Batch WAV header decode — narrow, undecodables drop. */
  def audioMeta(media: Dataset[MediaRow]): Dataset[WavMeta] = {
    implicit val enc = Encoders.product[WavMeta]
    media.mapPartitions(_.flatMap { r =>
      wavMeta(r.payload).map { case (rate, ch, bits, n, ms) =>
        WavMeta(r.doc_id, rate, ch, bits, n, ms)
      }
    })
  }

  final case class Frame(doc_id: Long, frame_idx: Int, frame: Array[Byte])

  /** STUB frame sampler: every `stride`-th fixed-size chunk of the payload
    * stands in for a decoded video frame. Real implementation: demux +
    * keyframe extraction per batch. The plumbing (one row in, k frame rows
    * out, narrow flatMap — no shuffle) is the part that matters at scale.
    */
  def frameSample(media: Dataset[MediaRow], frameBytes: Int, stride: Int): Dataset[Frame] = {
    implicit val enc = Encoders.product[Frame]
    media.flatMap { r =>
      r.payload.grouped(frameBytes).zipWithIndex
        .filter(_._2 % stride == 0)
        .map { case (chunk, i) => Frame(r.doc_id, i, chunk) }
    }
  }
}
