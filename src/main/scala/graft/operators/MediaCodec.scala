package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.CRC32
import javax.imageio.ImageIO
import javax.sound.sampled.{AudioInputStream, AudioSystem}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** REAL multimodal decode kernels over the codecs the JDK itself ships —
  * no external libraries: `javax.imageio` (PNG/BMP/GIF/JPEG readers in
  * the `java.desktop` module) for images and `javax.sound.sampled` for
  * RIFF/WAVE audio. This upgrades the decode seam of [[Multimodal]] from
  * a stub to an end-to-end-real kernel for those formats; only video —
  * whose codecs genuinely aren't in the JDK — keeps the documented stub.
  *
  * Everything is integer arithmetic on decoded samples (channel sums,
  * peaks, CRC32 of the raw sample stream), so results are bit-stable
  * across engines and runs, and the DuckDB oracles can state expected
  * rows as VALUES derived from the fixture constants by an independent
  * implementation (see `SparkEntry.oracleSql`).
  *
  * Scale shape (same contract as `mapInPandas` batching in the
  * reference's world): decode runs inside `mapPartitions` — one codec
  * context per partition, rows streamed through, no driver involvement;
  * payload bytes are touched only by this stage, so column pruning keeps
  * them out of every other scan.
  */
object MediaCodec {

  // ---- deterministic fixtures -----------------------------------------
  //
  // Pixel/sample formulas are the single source of truth shared with the
  // oracle VALUES (computed independently from these same formulas):
  //   r(x,y) = (7x + 13y)      % 256
  //   g(x,y) = (3x + 5y + 64)  % 256
  //   b(x,y) = (11x + 2y + 128)% 256
  //   pcm(frame i, channel c)  = ((i * (31 + 17c)) % 20001) - 10000
  // Video frames add a frame shift (frame 0 IS the still-image formula):
  //   r(x,y,f) = (7x + 13y + 19f) % 256   and g/h analogously

  private[graft] def pixelR(x: Int, y: Int): Int = (7 * x + 13 * y) % 256
  private[graft] def pixelG(x: Int, y: Int): Int = (3 * x + 5 * y + 64) % 256
  private[graft] def pixelB(x: Int, y: Int): Int = (11 * x + 2 * y + 128) % 256
  private[graft] def pcmSample(i: Int, ch: Int): Int =
    ((i.toLong * (31 + 17 * ch)) % 20001).toInt - 10000
  private[graft] def frameR(x: Int, y: Int, f: Int): Int = (7 * x + 13 * y + 19 * f) % 256
  private[graft] def frameG(x: Int, y: Int, f: Int): Int = (3 * x + 5 * y + 23 * f + 64) % 256
  private[graft] def frameB(x: Int, y: Int, f: Int): Int = (11 * x + 2 * y + 29 * f + 128) % 256

  /** Hand-rolled 24-bpp bottom-up BMP (BITMAPFILEHEADER +
    * BITMAPINFOHEADER, rows padded to 4 bytes, BGR order) — byte-exact
    * deterministic, no encoder in the loop. The pixel array IS
    * [[dibFrame]] at frame 0 (one writer for the layout both fixtures
    * are contractually pinned to — the spec asserts the CRCs match). */
  private[graft] def bmpBytes(w: Int, h: Int): Array[Byte] =
    bmpWrap(w, h, dibFrame(w, h, 0))

  private def bmpWrap(w: Int, h: Int, pixels: Array[Byte]): Array[Byte] = {
    val buf = ByteBuffer.allocate(54 + pixels.length).order(ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(54 + pixels.length)
      .putShort(0).putShort(0).putInt(54)
    buf.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(pixels.length).putInt(2835).putInt(2835).putInt(0).putInt(0)
    buf.put(pixels)
    buf.array()
  }

  /** Uniform-color DIB rows — the SPACER-GIF pixel class: every
    * gradient bit is 0, so every solid image dHashes to 0 regardless
    * of its color (the degenerate bucket the capped pair joins are
    * built for). */
  private[graft] def dibSolid(w: Int, h: Int, r: Int, g: Int, b: Int): Array[Byte] = {
    val rowBytes = (w * 3 + 3) / 4 * 4
    val buf = ByteBuffer.allocate(rowBytes * h)
    for (_ <- 0 until h) {
      for (_ <- 0 until w) buf.put(b.toByte).put(g.toByte).put(r.toByte)
      for (_ <- w * 3 until rowBytes) buf.put(0.toByte)
    }
    buf.array()
  }

  private[graft] def bmpSolid(w: Int, h: Int, r: Int, g: Int, b: Int): Array[Byte] =
    bmpWrap(w, h, dibSolid(w, h, r, g, b))

  /** A white vertical stripe on black (columns x0..x1) — per-seed
    * DISTINCT dHashes (the stripe edges land on different sampled
    * columns), the per-video unique frame of the hostile video
    * fixture. */
  private[graft] def dibStripe(w: Int, h: Int, x0: Int, x1: Int): Array[Byte] = {
    val rowBytes = (w * 3 + 3) / 4 * 4
    val buf = ByteBuffer.allocate(rowBytes * h)
    for (_ <- 0 until h) {
      for (x <- 0 until w) {
        val v = if (x >= x0 && x <= x1) 255.toByte else 0.toByte
        buf.put(v).put(v).put(v)
      }
      for (_ <- w * 3 until rowBytes) buf.put(0.toByte)
    }
    buf.array()
  }

  /** Same pixels through the JDK PNG ENCODER — the decode side then
    * exercises a real compressed codec path (PNG is lossless, so decoded
    * stats still equal the formula-derived oracle rows). */
  private[graft] def pngBytes(w: Int, h: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, (pixelR(x, y) << 16) | (pixelG(x, y) << 8) | pixelB(x, y))
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Hand-rolled RIFF/WAVE, 16-bit PCM little-endian, interleaved. */
  private[graft] def wavBytes(sampleRate: Int, channels: Int, nFrames: Int): Array[Byte] = {
    val dataSize = nFrames * channels * 2
    val buf = ByteBuffer.allocate(44 + dataSize).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1)
      .putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * channels * 2).putShort((channels * 2).toShort).putShort(16)
    buf.put("data".getBytes("US-ASCII")).putInt(dataSize)
    for (i <- 0 until nFrames; c <- 0 until channels)
      buf.putShort(pcmSample(i, c).toShort)
    buf.array()
  }

  // RIFF helpers shared by the AVI writer: a chunk is id + LE u32 size +
  // body (padded to even size per the RIFF spec); a LIST is a chunk whose
  // body starts with its 4-byte list type.
  private def riffChunk(id: String, body: Array[Byte]): Array[Byte] = {
    val padded = if (body.length % 2 == 1) body :+ 0.toByte else body
    val buf = ByteBuffer.allocate(8 + padded.length).order(ByteOrder.LITTLE_ENDIAN)
    buf.put(id.getBytes("US-ASCII")).putInt(body.length).put(padded)
    buf.array()
  }
  private def riffList(listType: String, bodies: Array[Byte]*): Array[Byte] =
    riffChunk("LIST", listType.getBytes("US-ASCII") ++ bodies.flatten)

  /** One uncompressed 24-bpp bottom-up DIB frame (rows padded to 4
    * bytes, BGR order — the BMP pixel-array layout without any headers,
    * which is exactly what a 'DIB '-handler AVI stores per '00db'
    * chunk). */
  private[graft] def dibFrame(w: Int, h: Int, f: Int): Array[Byte] = {
    val rowBytes = (w * 3 + 3) / 4 * 4
    val buf = ByteBuffer.allocate(rowBytes * h)
    for (row <- 0 until h) {
      val y = h - 1 - row
      for (x <- 0 until w)
        buf.put(frameB(x, y, f).toByte).put(frameG(x, y, f).toByte).put(frameR(x, y, f).toByte)
      for (_ <- w * 3 until rowBytes) buf.put(0.toByte)
    }
    buf.array()
  }

  /** Hand-rolled uncompressed AVI (RIFF 'AVI '): LIST hdrl with the
    * 56-byte `avih` main header and a LIST strl carrying the 'vids'
    * `strh` (handler 'DIB ', dwScale/dwRate = the frame clock) and a
    * BITMAPINFOHEADER `strf` (24 bpp, BI_RGB); then LIST movi with one
    * '00db' chunk of raw DIB pixels per frame. The same container walk
    * the WAV fixture exercises for audio, one level deeper. `rate`
    * frames per `scale` seconds — defaults give 25 fps = 40 ms/frame. */
  private[graft] def aviBytes(w: Int, h: Int, nFrames: Int,
                              scale: Int = 1, rate: Int = 25): Array[Byte] = {
    val frameSize = (w * 3 + 3) / 4 * 4 * h
    aviContainer(w, h, (0 until nFrames).map(f => dibFrame(w, h, f)),
      handler = "DIB ", biCompression = 0, biSizeImage = frameSize,
      chunkId = "00db", scale = scale, rate = rate)
  }

  /** The ONE RIFF/hdrl/strl/movi container assembly both AVI fixture
    * builders share, parameterized by the spots where a raw-DIB and an
    * MJPG stream differ (handler fourCC, `strf.biCompression` /
    * `biSizeImage`, movi chunk id, frame payloads) — a container-layout
    * fix lands in both formats by construction. */
  private def aviContainer(w: Int, h: Int, frames: Seq[Array[Byte]],
                           handler: String, biCompression: Int,
                           biSizeImage: Int, chunkId: String,
                           scale: Int, rate: Int): Array[Byte] = {
    // geometry fallback keeps a zero-frame clip buildable (empty movi)
    val bufSize = frames.map(_.length).maxOption.getOrElse((w * 3 + 3) / 4 * 4 * h)
    val avih = {
      val b = ByteBuffer.allocate(56).order(ByteOrder.LITTLE_ENDIAN)
      b.putInt((1000000L * scale / rate).toInt) // dwMicroSecPerFrame
        .putInt(0).putInt(0).putInt(0)          // maxBytesPerSec, padding, flags
        .putInt(frames.size).putInt(0).putInt(1) // totalFrames, initialFrames, streams
        .putInt(bufSize).putInt(w).putInt(h)    // suggestedBufferSize, width, height
        .putInt(0).putInt(0).putInt(0).putInt(0) // dwReserved[4]
      b.array()
    }
    val strh = {
      val b = ByteBuffer.allocate(56).order(ByteOrder.LITTLE_ENDIAN)
      b.put("vids".getBytes("US-ASCII")).put(handler.getBytes("US-ASCII"))
        .putInt(0).putInt(0).putInt(0)          // flags, priority+language, initialFrames
        .putInt(scale).putInt(rate)             // dwScale, dwRate
        .putInt(0).putInt(frames.size)          // dwStart, dwLength
        .putInt(bufSize).putInt(0).putInt(0)    // suggestedBufferSize, quality, sampleSize
        .putShort(0).putShort(0).putShort(w.toShort).putShort(h.toShort) // rcFrame
      b.array()
    }
    val strf = {
      val b = ByteBuffer.allocate(40).order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
        .putInt(biCompression).putInt(biSizeImage)
        .putInt(0).putInt(0).putInt(0).putInt(0)
      b.array()
    }
    val hdrl = riffList("hdrl", riffChunk("avih", avih),
      riffList("strl", riffChunk("strh", strh), riffChunk("strf", strf)))
    val movi = riffList("movi", frames.map(f => riffChunk(chunkId, f)): _*)
    val body = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
    val buf = ByteBuffer.allocate(8 + body.length).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(body.length).put(body)
    buf.array()
  }

  /** One MJPG frame: the [[dibFrame]] pixel formulas rendered through
    * the JDK's own JPEG ENCODER (default quality). Lossy — decoded
    * pixels are NOT the formulas anymore — but the encode is
    * deterministic for a given JDK, so decoded stats are bit-stable and
    * the oracle can derive its expected rows by decoding these same
    * bytes with an independent pixel walk (the container walk, frame
    * sampling and stream clock stay independently checked; only the
    * JPEG codec itself is common-mode — there is exactly one in the
    * JDK). */
  private[graft] def mjpgFrameJpeg(w: Int, h: Int, f: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, (frameR(x, y, f) << 16) | (frameG(x, y, f) << 8) | frameB(x, y, f))
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "jpg", out)
    out.toByteArray
  }

  /** Motion-JPEG AVI: the same RIFF skeleton as [[aviBytes]] but with
    * handler 'MJPG', `strf.biCompression = 'MJPG'`, and one
    * JPEG-compressed '00dc' chunk per frame (compressed streams use
    * '00dc'; raw DIB uses '00db' — [[parseAvi]] accepts both). */
  private[graft] def mjpgAviBytes(w: Int, h: Int, nFrames: Int,
                                  scale: Int = 1, rate: Int = 25): Array[Byte] =
    aviContainer(w, h, (0 until nFrames).map(f => mjpgFrameJpeg(w, h, f)),
      handler = "MJPG", biCompression = MJPG_FOURCC, biSizeImage = 0,
      chunkId = "00dc", scale = scale, rate = rate)

  /** MJPG fixture clips, kept separate from [[fixturesDF]] so the
    * raw-DIB oracle VALUES (formula-derived) stay untouched; the MJPG
    * oracle derives its rows by decoding these JPEG frames instead. */
  def mjpgFixturesDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("anim", "video", "avi", mjpgAviBytes(24, 16, 12)),          // 25 fps, 12 frames
      ("mini", "video", "avi", mjpgAviBytes(8, 8, 3, scale = 1, rate = 10)))
      .toDF("doc", "modality", "codec", "payload")
  }

  /** (doc, modality, codec, payload) fixture table — the shape a
    * `binaryFile` scan of a media landing zone produces. */
  def fixturesDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rows = Seq(
      ("icon", "image", "bmp", bmpBytes(16, 16)),
      ("banner", "image", "bmp", bmpBytes(97, 41)), // odd width: row padding
      ("photo", "image", "png", pngBytes(64, 48)),
      ("tall", "image", "png", pngBytes(20, 120)),
      ("beep", "audio", "wav", wavBytes(8000, 1, 800)),
      ("tone", "audio", "wav", wavBytes(16000, 2, 1600)),
      ("clip", "video", "avi", aviBytes(24, 16, 12)),  // 25 fps, 12 frames
      ("short", "video", "avi", aviBytes(8, 8, 3, scale = 1, rate = 10)))
    rows.toDF("doc", "modality", "codec", "payload")
  }

  /** [[wavBytes]] with a gain applied sample-by-sample
    * (`|s|·numer/denom`, sign restored — truncation toward zero): the
    * volume-twin fixture for the audio fingerprint (same audio, half
    * the amplitude — different bytes everywhere). */
  private[graft] def wavBytesGain(sampleRate: Int, channels: Int, nFrames: Int,
                                  numer: Int, denom: Int): Array[Byte] = {
    val dataSize = nFrames * channels * 2
    val buf = ByteBuffer.allocate(44 + dataSize).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1)
      .putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * channels * 2).putShort((channels * 2).toShort).putShort(16)
    buf.put("data".getBytes("US-ASCII")).putInt(dataSize)
    for (i <- 0 until nFrames; c <- 0 until channels) {
      val s = pcmSample(i, c)
      val g = (math.abs(s) * numer / denom) * (if (s >= 0) 1 else -1)
      buf.putShort(g.toShort)
    }
    buf.array()
  }

  /** [[fixturesDF]] plus the perceptual-dedup twins: `poster` (the
    * SAME 64×48 pixels as `photo`, BMP-encoded — the codec-twin pair
    * no byte-level hash can collapse), `clip2` (the first 8 frames of
    * `clip` — the trimmed-copy video class), and `beep_soft` (`beep`
    * at half volume — the re-levelled audio class). A separate fixture
    * table so the established mm_* oracles keep their row sets. */
  def dhashFixturesDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    fixturesDF(spark).unionByName(
      Seq(("poster", "image", "bmp", bmpBytes(64, 48)),
        ("clip2", "video", "avi", aviBytes(24, 16, 8)),
        ("beep_soft", "audio", "wav", wavBytesGain(8000, 1, 800, 1, 2)))
        .toDF("doc", "modality", "codec", "payload"))
  }

  /** One stripe frame (unique per seed) + one all-black frame: every
    * video shares the black frame's dHash 0 — the bucket a black frame
    * makes degenerate at web scale. The stripe runs from the LEFT edge
    * to the seed-th dHash-sampled column (`seed·w/9` — the 9×8 grid's
    * own geometry), so its white→black FALLING edge lands on gradient
    * bit `seed` of every row: distinct nonzero hashes by construction
    * (dHash sets a bit only on left>right falls — a right-edge stripe
    * would hash 0 like the black frame). */
  private[graft] def aviStripeBytes(w: Int, h: Int, seed: Int): Array[Byte] =
    aviContainer(w, h,
      Seq(dibStripe(w, h, 0, seed * w / 9), dibSolid(w, h, 0, 0, 0)),
      handler = "DIB ", biCompression = 0,
      biSizeImage = (w * 3 + 3) / 4 * 4 * h, chunkId = "00db",
      scale = 1, rate = 25)

  /** The HOSTILE degenerate-bucket fixture for the capped perceptual
    * tier — web-scale reality in miniature, every class the VERDICT
    * names: five identical spacer images (uniform pixels, all dHash
    * 0), four videos that each carry a unique stripe frame PLUS the
    * same all-black frame (one shared frame-hash bucket holding every
    * video), four silent audio docs (all fingerprint 0), and the
    * legitimate near-dup pairs (photo/poster codec twins,
    * beep/beep_soft volume twins) that must keep resolving while the
    * cap defuses the degenerate buckets around them. */
  def hostileDedupFixturesDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rows =
      (0 until 5).map(i => (s"a$i", "image", "bmp", bmpSolid(16, 16, 200, 200, 200))) ++
      (0 until 4).map(i => (s"v$i", "video", "avi", aviStripeBytes(24, 16, i))) ++
      (0 until 4).map(i => (s"s$i", "audio", "wav", wavBytesGain(8000, 1, 800, 0, 1))) ++
      Seq(("photo", "image", "png", pngBytes(64, 48)),
        ("poster", "image", "bmp", bmpBytes(64, 48)),
        ("beep", "audio", "wav", wavBytes(8000, 1, 800)),
        ("beep_soft", "audio", "wav", wavBytesGain(8000, 1, 800, 1, 2)))
    rows.toDF("doc", "modality", "codec", "payload")
  }

  // ---- real decode kernels --------------------------------------------

  case class ImageStats(doc: String, codec: String, width: Int, height: Int,
                        n_pixels: Long, sum_r: Long, sum_g: Long, sum_b: Long,
                        rgb_crc32: Long)
  case class WavStats(doc: String, channels: Int, sample_rate_hz: Int,
                      bits: Int, n_frames: Long, peak_abs: Int, sum_abs: Long)
  case class ResizedImage(doc: String, width: Int, height: Int,
                          out_width: Int, out_height: Int, scaled: Boolean,
                          out_crc32: Long)

  private def rgbOf(img: BufferedImage, x: Int, y: Int): (Int, Int, Int) = {
    val p = img.getRGB(x, y)
    ((p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF)
  }

  /** Decode every image payload with `ImageIO` and reduce it to integer
    * pixel statistics + a CRC32 over the scanline-ordered RGB stream —
    * the deterministic footprint of a real decode (a wrong pixel anywhere
    * moves the CRC). Corrupt/unsupported payloads yield no row here; use
    * [[Validation]]-style predicates upstream to count them. */
  /** Decode image bytes, or None when undecodable. Try AND null-check:
    * `ImageIO.read` returns null only when NO reader claims the bytes —
    * a reader that claims a damaged payload (intact signature, rotted
    * body) THROWS mid-decode, and either outcome must become a dropped
    * row, never a failed task (the module's drop-the-row contract). */
  private[graft] def decodeImage(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
    scala.util.Try(ImageIO.read(new ByteArrayInputStream(payload)))
      .toOption.flatMap(Option(_))

  def imageStats(media: DataFrame): Dataset[ImageStats] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("modality") === "image")
      .select(col("doc"), col("codec"), col("payload"))
      .as[(String, String, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (doc, codec, payload) =>
          decodeImage(payload).map { img =>
            val (w, h) = (img.getWidth, img.getHeight)
            var (sr, sg, sb) = (0L, 0L, 0L)
            val crc = new CRC32()
            for (y <- 0 until h; x <- 0 until w) {
              val (r, g, b) = rgbOf(img, x, y)
              sr += r; sg += g; sb += b
              crc.update(r); crc.update(g); crc.update(b)
            }
            ImageStats(doc, codec, w, h, w.toLong * h, sr, sg, sb, crc.getValue)
          }
        }
      }
  }

  /** Decode + aspect-preserving nearest-neighbor resample with the long
    * side capped at `maxSide` — the same integer geometry as
    * [[Multimodal.resizeMeta]], now applied to real pixels. Source pixel
    * of output (x, y) is `(x·w ÷ outW, y·h ÷ outH)` (integer floor), so
    * the resample is reproducible on any JVM — no Graphics2D
    * interpolation in the loop. */
  def imageResize(media: DataFrame, maxSide: Int = 32): Dataset[ResizedImage] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("modality") === "image")
      .select(col("doc"), col("payload"))
      .as[(String, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (doc, payload) =>
          decodeImage(payload).map { img =>
            val (w, h) = (img.getWidth, img.getHeight)
            val long = math.max(w, h)
            val scaled = long > maxSide
            val (ow, oh) =
              if (scaled) (math.max(1, w * maxSide / long), math.max(1, h * maxSide / long))
              else (w, h)
            val crc = new CRC32()
            for (y <- 0 until oh; x <- 0 until ow) {
              val (r, g, b) = rgbOf(img, x * w / ow, y * h / oh)
              crc.update(r); crc.update(g); crc.update(b)
            }
            ResizedImage(doc, w, h, ow, oh, scaled, crc.getValue)
          }
        }
      }
  }

  case class ImageEmbedding(doc: String, n_pixels: Long, hist: Seq[Long],
                            embedding: Seq[Float])

  /** Image → embedding: decode, then a 4×4×4 RGB color histogram (2
    * high bits per channel, 64 bins) L2-normalized to the engine's
    * `ARRAY<FLOAT>` embedding contract — the bridge from the multimodal
    * tier into [[Retrieval.knnCosine]]/[[Dedup.semanticDedup]] (what a
    * neural image encoder would produce; this deterministic featurizer
    * is its [[Embedding]]-style zero-egress stand-in, and a codec-exact
    * one: identical pixels give identical embeddings whether the bytes
    * were BMP or PNG). The raw integer histogram rides along so the
    * oracle can check the embedding's exact content without float
    * hashing. */
  def imageEmbedding(media: DataFrame): Dataset[ImageEmbedding] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("modality") === "image")
      .select(col("doc"), col("payload"))
      .as[(String, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (doc, payload) =>
          decodeImage(payload).map { img =>
            val hist = new Array[Long](64)
            for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
              val (r, g, b) = rgbOf(img, x, y)
              hist(((r >> 6) << 4) | ((g >> 6) << 2) | (b >> 6)) += 1
            }
            val norm = math.sqrt(hist.map(c => c.toDouble * c).sum)
            ImageEmbedding(doc, img.getWidth.toLong * img.getHeight, hist.toSeq,
              hist.map(c => (c / norm).toFloat).toSeq)
          }
        }
      }
  }

  case class ImageDHash(doc: String, dhash: Long)

  /** The 64-bit dHash of a w×h pixel source: 9×8 integer-luma grid
    * (floor resample geometry, `(299r+587g+114b)/1000`), bit `y·8+x`
    * set iff `gray(x,y) > gray(x+1,y)` — ONE definition shared by the
    * image and per-video-frame hashers so the two can never diverge. */
  private def dhash9x8(w: Int, h: Int, rgb: (Int, Int) => (Int, Int, Int)): Long = {
    val gray = Array.ofDim[Int](8, 9)
    for (y <- 0 until 8; x <- 0 until 9) {
      val (r, g, b) = rgb(x * w / 9, y * h / 8)
      gray(y)(x) = (299 * r + 587 * g + 114 * b) / 1000
    }
    var hash = 0L
    for (y <- 0 until 8; x <- 0 until 8)
      if (gray(y)(x) > gray(y)(x + 1)) hash |= 1L << (y * 8 + x)
    hash
  }

  /** Perceptual difference hash (dHash) — the industrial image
    * near-dup primitive (the text tier's SimHash twin): decode, reduce
    * to a 9×8 luma grid with the SAME integer floor geometry as
    * [[imageResize]] (`src = (x·w ÷ 9, y·h ÷ 8)` — no interpolation,
    * reproducible on any JVM), integer luma `(299r + 587g + 114b) ÷
    * 1000`, then 64 horizontal-gradient bits: bit `y·8+x` set iff
    * `gray(x,y) > gray(x+1,y)`. Gradients make the hash invariant to
    * global brightness/contrast shifts and to the CODEC (identical
    * pixels through BMP or PNG hash identically — the twin class a
    * byte-level content hash can never collapse); 64 bits keep the
    * whole fingerprint in one long. Undecodable payloads drop the row. */
  def imageDHash(media: DataFrame): Dataset[ImageDHash] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("modality") === "image")
      .select(col("doc"), col("payload"))
      .as[(String, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (doc, payload) =>
          decodeImage(payload).map { img =>
            ImageDHash(doc, dhash9x8(img.getWidth, img.getHeight,
              (x, y) => rgbOf(img, x, y)))
          }
        }
      }
  }

  /** The hot-bucket keeper rule shared by every capped perceptual pair
    * join below — [[Dedup.simhashPairsCapped]]'s contract applied to
    * media: only the `cap` smallest docs per bucket act as pair
    * SOURCES (the a-side); every later doc still compares against all
    * of them, so a degenerate bucket's work drops from O(n²) to
    * O(n·cap). Web-scale media corpora GUARANTEE degenerate buckets —
    * spacer GIFs and blank thumbnails all dHash to one value, a black
    * frame appears in every video, silence fingerprints to 0 — and an
    * uncapped self-join is quadratic in exactly those buckets. Within
    * the cap (no bucket above `cap` members) the capped output is
    * EXACTLY the uncapped one (spec-pinned); past it, recall loss is
    * the stated contract: forgone pairs are those whose BOTH ends rank
    * past the cap in every shared bucket. Deterministic — keepers are
    * a doc-ordered rank. */
  private[graft] def cappedSources(df: DataFrame, bucketCols: Seq[String],
                            cap: Int): DataFrame = {
    require(cap >= 1, s"need cap >= 1, got $cap")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(bucketCols.map(col): _*).orderBy(col("doc"))
    df.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= cap).drop("_rk")
  }

  private[graft] def imageBanded(hashes: DataFrame): DataFrame =
    hashes.select(col("doc"), col("dhash"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("dhash"), b * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("band", "bucket")))

  /** The shared image pair tail: (band, bucket)-equi-join `sources`
    * against the full banding, dedup across bands, Hamming-threshold. */
  private[graft] def imagePairTail(sources: DataFrame, banded: DataFrame,
                            maxHamming: Int): DataFrame =
    sources.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        col("a.dhash").as("fp_a"), col("b.dhash").as("fp_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))

  /** Image near-dup candidate pairs by Hamming banding over the 64-bit
    * dHash — the [[Dedup.simhashPairs]] plan shape on pixels: 4 bands
    * of 16 bits, images sharing any band's value become candidates
    * (equi-join on (band, bucket) — never all-pairs), XOR-popcount
    * threshold. Pigeonhole: a pair within Hamming distance 3 agrees on
    * at least one of the 4 bands, so recall is EXACT for `maxHamming`
    * ≤ 3. The hash table (one long per image) is what checkpoints —
    * pixels are never rescanned for the pairing. Production corpora
    * use [[imageNearDupsCapped]]: identical-looking images (spacers,
    * blank thumbnails) make this uncapped join quadratic in their
    * bucket. */
  def imageNearDups(media: DataFrame, maxHamming: Int = 3): DataFrame = {
    val banded = imageBanded(imageDHash(media).toDF().localCheckpoint())
    imagePairTail(banded, banded, maxHamming)
  }

  /** [[imageNearDups]] with the [[cappedSources]] keeper rule per
    * (band, bucket) — the form a web-scale corpus runs. Exactly equal
    * to the uncapped output while no bucket exceeds `cap`. */
  def imageNearDupsCapped(media: DataFrame, maxHamming: Int = 3,
                          cap: Int = 64): DataFrame = {
    val banded = imageBanded(imageDHash(media).toDF().localCheckpoint())
    imagePairTail(cappedSources(banded, Seq("band", "bucket"), cap),
      banded, maxHamming)
  }

  case class VideoFrameHash(doc: String, frame_idx: Int, dhash: Long)

  /** Per-frame perceptual hashes for video: the AVI container walk
    * ([[aviFrames]]' geometry — dib rows bottom-up BGR, MJPG frames
    * through the JPEG codec) with each sampled frame reduced to its
    * [[dhash9x8]]. A video becomes a small set of longs — the
    * representation trimmed-copy detection joins on. */
  def aviFrameDHash(media: DataFrame, step: Int = 1): Dataset[VideoFrameHash] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("modality") === "video")
      .select(col("doc"), col("payload"))
      .as[(String, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (doc, payload) =>
          scala.util.Try(parseAvi(payload)).toOption.toSeq.flatMap { avi =>
            avi.frames.zipWithIndex.filter(_._2 % step == 0).flatMap { case (frame, i) =>
              aviPixels(avi, frame).map(px =>
                VideoFrameHash(doc, i, dhash9x8(avi.width, avi.height, px)))
            }
          }
        }
      }
  }

  /** Trimmed-copy / re-encode detection across videos: join per-video
    * DISTINCT frame hashes on exact dhash equality (a shared hash is a
    * perceptually identical frame), count shared values per pair, and
    * carry each side's distinct-hash count so the caller computes
    * containment (`n_shared / min(n_a, n_b)` = 1.0 for a clean trim).
    * Distinct-before-join keeps a video with repeated still frames
    * from exploding the pair space; the join is hash-equi — never
    * all-pairs, the dedup-tier rule. */
  def videoSharedFrames(media: DataFrame, step: Int = 1): DataFrame =
    videoSharedTail(aviFrameDHash(media, step).toDF()
      .select(col("doc"), col("dhash")).distinct().localCheckpoint(), None)

  /** [[videoSharedFrames]] with the [[cappedSources]] keeper rule per
    * shared frame-hash value — the form a web-scale corpus runs: a
    * black frame (or a studio logo card) appears in MILLIONS of
    * videos, and uncapped that one hash value's pair space is
    * quadratic. Exactly equal to the uncapped output while no frame
    * hash is shared by more than `cap` videos; past it, a pair whose
    * a-side ranks beyond the cap on SOME shared hash undercounts
    * `n_shared` by those hashes (and vanishes when that holds for all
    * of them) — the stated lower-bound contract. */
  def videoSharedFramesCapped(media: DataFrame, step: Int = 1,
                              cap: Int = 64): DataFrame = {
    val hashes = aviFrameDHash(media, step).toDF()
      .select(col("doc"), col("dhash")).distinct().localCheckpoint()
    videoSharedTail(hashes, Some(cappedSources(hashes, Seq("dhash"), cap)))
  }

  private[graft] def videoSharedTail(hashes: DataFrame,
                              sources: Option[DataFrame]): DataFrame = {
    val counts = hashes.groupBy(col("doc")).agg(count(lit(1)).as("n"))
    sources.getOrElse(hashes).as("a").join(hashes.as("b"),
        col("a.dhash") === col("b.dhash") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(counts.select(col("doc").as("doc_a"), col("n").as("n_a")), Seq("doc_a"))
      .join(counts.select(col("doc").as("doc_b"), col("n").as("n_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("n_a"), col("n_b"))
  }

  case class AudioFingerprint(doc: String, n_windows: Int, fingerprint: Long)

  /** Volume-invariant audio fingerprint — the dHash idea on PCM: fold
    * the 16-bit stream into per-window energies (sum of |sample| over
    * `windowFrames` frames × all channels, integer-exact) and emit one
    * bit per window boundary: bit `w−1` set iff `E(w) > E(w−1)`, up to
    * 64 boundaries. Energy-DELTA signs survive uniform gain changes —
    * a re-levelled copy of the same audio fingerprints identically
    * while every byte differs. Same decode gate as [[wavStats]]
    * (PCM-signed 16-bit only; anything else drops the row). */
  def wavFingerprint(media: DataFrame, windowFrames: Int = 100): Dataset[AudioFingerprint] = {
    require(windowFrames >= 1, s"windowFrames must be >= 1, got $windowFrames")
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("modality") === "audio")
      .select(col("doc"), col("payload"))
      .as[(String, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (doc, payload) =>
          pcm16(payload).map { in =>
            val f = in.getFormat
            val channels = f.getChannels
            val bytes = in.readAllBytes()
            val nFrames = bytes.length / (2 * channels)
            // n_windows reports the TRUE count (it is the length guard
            // audioNearDups joins on — capping it would let any two
            // >65-window audios alias through a shared bit prefix);
            // only the ENERGY scan stops at the fingerprint's 64
            // boundaries + 1
            val nWindows = nFrames / windowFrames
            val scanWindows = math.min(nWindows, 65)
            val energies = new Array[Long](scanWindows)
            var w = 0
            while (w < scanWindows) {
              var e = 0L
              var i = w * windowFrames
              val end = (w + 1) * windowFrames
              while (i < end) {
                var c = 0
                while (c < channels) {
                  val off = (i * channels + c) * 2
                  val s = ((bytes(off) & 0xFF) | (bytes(off + 1) << 8)).toShort
                  e += math.abs(s.toInt)
                  c += 1
                }
                i += 1
              }
              energies(w) = e
              w += 1
            }
            var fp = 0L
            w = 1
            while (w < scanWindows && w <= 64) {
              if (energies(w) > energies(w - 1)) fp |= 1L << (w - 1)
              w += 1
            }
            AudioFingerprint(doc, nWindows, fp)
          }
        }
      }
  }

  /** Re-levelled-copy detection across audio docs: exact-equality join
    * on the volume-invariant fingerprint (plus matching window count,
    * so a short clip cannot alias a long one through the shared bit
    * prefix). */
  def audioNearDups(media: DataFrame, windowFrames: Int = 100): DataFrame = {
    val fps = wavFingerprint(media, windowFrames).toDF().localCheckpoint()
    audioNearDupTail(fps, fps)
  }

  /** [[audioNearDups]] with the [[cappedSources]] keeper rule per
    * (fingerprint, n_windows) bucket — the form a web-scale corpus
    * runs: SILENCE fingerprints to 0 at every length, and an uncapped
    * equi-join over the silent tier is quadratic. Exactly equal to the
    * uncapped output while no bucket exceeds `cap`. */
  def audioNearDupsCapped(media: DataFrame, windowFrames: Int = 100,
                          cap: Int = 64): DataFrame = {
    val fps = wavFingerprint(media, windowFrames).toDF().localCheckpoint()
    audioNearDupTail(cappedSources(fps, Seq("fingerprint", "n_windows"), cap), fps)
  }

  private[graft] def audioNearDupTail(sources: DataFrame, fps: DataFrame): DataFrame =
    sources.as("a").join(fps.as("b"),
        col("a.fingerprint") === col("b.fingerprint") &&
          col("a.n_windows") === col("b.n_windows") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        col("a.fingerprint").as("fingerprint"))

  /** The WAV decode gate of [[wavStats]] and [[wavFingerprint]]: the
    * payload's audio stream when it is 16-bit little-endian PCM_SIGNED,
    * None for a corrupt payload or any other sample format (the caller
    * drops the row). */
  private def pcm16(payload: Array[Byte]): Option[AudioInputStream] =
    scala.util.Try(AudioSystem.getAudioInputStream(new ByteArrayInputStream(payload)))
      .toOption.filter { in =>
        val f = in.getFormat
        f.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
          f.getSampleSizeInBits == 16 && !f.isBigEndian
      }

  /** Decode WAV audio through `javax.sound.sampled`: format header from
    * the real codec, then exact integer amplitude statistics over the
    * 16-bit PCM stream (all channels, interleaved order). Corrupt or
    * unsupported payloads DROP the row, never the job — the
    * [[decodeImage]] contract (`getAudioInputStream` throws
    * `UnsupportedAudioFileException`; that becomes a skipped row). The
    * amplitude loop reads little-endian signed 16-bit samples, so any
    * OTHER valid WAV shape (8-bit, float, a-law/µ-law, big-endian) is
    * dropped too rather than silently fused into garbage shorts while
    * the `bits` column truthfully reports a different width. */
  def wavStats(media: DataFrame): Dataset[WavStats] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("modality") === "audio")
      .select(col("doc"), col("payload"))
      .as[(String, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (doc, payload) =>
          pcm16(payload).map { in =>
            val fmt = in.getFormat
            val bytes = in.readAllBytes()
            val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
            var (peak, sum) = (0, 0L)
            while (bb.remaining() >= 2) {
              val v = math.abs(bb.getShort.toInt)
              if (v > peak) peak = v
              sum += v
            }
            WavStats(doc, fmt.getChannels, fmt.getSampleRate.toInt,
              fmt.getSampleSizeInBits,
              bytes.length / (2L * fmt.getChannels), peak, sum)
          }
        }
      }
  }

  case class VideoFrameStats(doc: String, frame_idx: Int, frame_ts_ms: Long,
                             width: Int, height: Int, n_frames: Int,
                             sum_r: Long, sum_g: Long, sum_b: Long,
                             rgb_crc32: Long)

  private[graft] case class AviStream(width: Int, height: Int, scale: Int, rate: Int,
                                      codec: String, frames: Vector[Array[Byte]])

  private val MJPG_FOURCC =
    ByteBuffer.wrap("MJPG".getBytes("US-ASCII")).order(ByteOrder.LITTLE_ENDIAN).getInt

  /** Walk the RIFF container: verify the 'AVI ' form, descend into the
    * hdrl/strl/movi LISTs, pick up geometry from `avih`, the frame clock
    * from the 'vids' `strh`, the frame codec from `strf` (uncompressed
    * 24-bpp BI_RGB, or 'MJPG' whose frames are plain JPEGs), and collect
    * the '00db'/'00dc' frame chunks in stream order. Throws on anything
    * else — the caller maps that to a dropped row. */
  private[graft] def parseAvi(payload: Array[Byte]): AviStream = {
    val bb = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN)
    def fourCC(): String = {
      val a = new Array[Byte](4); bb.get(a); new String(a, "US-ASCII")
    }
    require(fourCC() == "RIFF", "not a RIFF file")
    bb.getInt // RIFF size
    require(fourCC() == "AVI ", "not an AVI form")
    var (width, height, scale, rate) = (0, 0, 1, 25)
    var isVids = false
    var codec = "" // set only by an accepted vids strf
    val frames = Vector.newBuilder[Array[Byte]]
    while (bb.remaining() >= 8) {
      val id = fourCC()
      val size = bb.getInt
      // reject negative/oversized chunk lengths BEFORE using them: a
      // crafted size could otherwise walk the cursor backwards (infinite
      // loop) or allocate a frame buffer the payload can't back — with
      // this check every iteration strictly advances, so the walk always
      // terminates
      require(size >= 0 && size <= bb.remaining(), "bad chunk size")
      id match {
        case "LIST" =>
          require(size >= 4, "bad LIST size")
          val listType = fourCC()
          // descend into the lists that carry our structure (children are
          // contiguous, so walking on IS the descent); skip any other
          if (!Set("hdrl", "strl", "movi").contains(listType))
            bb.position(bb.position() + (size - 4) + size % 2)
        // header chunks must be big enough to CONTAIN the fields read
        // from them — absolute gets would otherwise index past a short
        // chunk into the neighbor's bytes and accept garbage geometry
        case "avih" =>
          require(size >= 40, "avih too short")
          val start = bb.position()
          width = bb.getInt(start + 32); height = bb.getInt(start + 36)
          bb.position(start + size + size % 2)
        case "strh" =>
          require(size >= 28, "strh too short")
          val start = bb.position()
          isVids = bb.getInt(start) == ByteBuffer.wrap("vids".getBytes("US-ASCII"))
            .order(ByteOrder.LITTLE_ENDIAN).getInt
          if (isVids) { scale = bb.getInt(start + 20); rate = bb.getInt(start + 24) }
          bb.position(start + size + size % 2)
        case "strf" if isVids =>
          require(size >= 20, "strf too short")
          val start = bb.position()
          // biCompression picks the frame codec: BI_RGB (0) = raw 24-bpp
          // DIB scanlines; 'MJPG' = one JPEG per frame, which the JDK's
          // own ImageIO decoder handles. Anything else is unsupported
          // and must REJECT the stream here — degrading to zero sampled
          // frames via the frame-size filter would look like a parsed-
          // but-empty stream (the r8 ADVICE hazard).
          bb.getInt(start + 16) match {
            case 0 =>
              require(bb.getShort(start + 14) == 24, "not 24 bpp")
              codec = "dib"
            case MJPG_FOURCC => codec = "mjpg"
            case other => throw new IllegalArgumentException(
              s"unsupported biCompression 0x${other.toHexString}")
          }
          bb.position(start + size + size % 2)
        case "00db" | "00dc" =>
          val frame = new Array[Byte](size)
          bb.get(frame)
          if (size % 2 == 1) bb.get
          frames += frame
        case _ =>
          bb.position(bb.position() + size + size % 2)
      }
    }
    // a vids strf must have been SEEN and ACCEPTED: without it the frame
    // format is unknown, and an AVI that omits it would otherwise pass
    // geometry checks and silently emit nothing downstream
    require(width > 0 && height > 0 && rate > 0 && codec.nonEmpty,
      "missing avih/strh/strf geometry")
    AviStream(width, height, scale, rate, codec, frames.result())
  }

  /** The frame walk of [[aviFrames]] and [[aviFrameDHash]]: one frame
    * as a top-down `(x, y) => (r, g, b)` reader. `"dib"` frames are
    * bottom-up BGR scanlines padded to 4 bytes; `"mjpg"` frames are
    * JPEGs through [[decodeImage]]. None when the frame does not match
    * the stream's geometry (or does not decode): the caller drops the
    * frame. */
  private def aviPixels(avi: AviStream, frame: Array[Byte])
      : Option[(Int, Int) => (Int, Int, Int)] = avi.codec match {
    case "dib" =>
      val rowBytes = (avi.width * 3 + 3) / 4 * 4
      Option.when(frame.length == rowBytes * avi.height) { (x: Int, y: Int) =>
        val off = (avi.height - 1 - y) * rowBytes + x * 3
        (frame(off + 2) & 0xFF, frame(off + 1) & 0xFF, frame(off) & 0xFF)
      }
    case "mjpg" =>
      decodeImage(frame)
        .filter(img => img.getWidth == avi.width && img.getHeight == avi.height)
        .map(img => (x: Int, y: Int) => rgbOf(img, x, y))
  }

  /** Decode AVI video payloads frame by frame — the real half of the
    * video seam ([[Multimodal.frameSample]] carries the metadata-stub
    * tier for codecs the JVM lacks). Every `step`-th frame is reduced to
    * the same integer footprint as [[imageStats]]: channel sums + CRC32
    * over the scanline-ordered (top-down) RGB stream, so a wrong byte
    * anywhere in the container walk, the bottom-up DIB row flip, or the
    * JPEG decode moves the CRC. The frame path branches on the codec the
    * `strf` header declared: `"dib"` frames are raw bottom-up BGR
    * scanlines (size-checked against the geometry); `"mjpg"` frames are
    * standalone JPEGs decoded with `ImageIO` (a null decode or a
    * geometry mismatch drops the FRAME, the [[imageStats]] contract).
    * `frame_ts_ms` is the stream clock
    * `frame_idx · 1000 · dwScale / dwRate` (exact integer at the fixture
    * rates). Corrupt/unsupported payloads drop the row, never the job —
    * the [[wavStats]] contract. Scale shape: one container walk per row
    * inside `mapPartitions`; only sampled frames are decoded to stats,
    * the rest are skipped at chunk granularity. */
  def aviFrames(media: DataFrame, step: Int = 1): Dataset[VideoFrameStats] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("modality") === "video")
      .select(col("doc"), col("payload"))
      .as[(String, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (doc, payload) =>
          scala.util.Try(parseAvi(payload)).toOption.toSeq.flatMap { avi =>
            avi.frames.zipWithIndex.filter(_._2 % step == 0).flatMap { case (frame, i) =>
              aviPixels(avi, frame).map { px =>
                var (sr, sg, sb) = (0L, 0L, 0L)
                val crc = new CRC32()
                for (y <- 0 until avi.height; x <- 0 until avi.width) {
                  val (r, g, b) = px(x, y)
                  sr += r; sg += g; sb += b
                  crc.update(r); crc.update(g); crc.update(b)
                }
                VideoFrameStats(doc, i, i.toLong * 1000 * avi.scale / avi.rate,
                  avi.width, avi.height, avi.frames.size, sr, sg, sb, crc.getValue)
              }
            }
          }
        }
      }
  }
}
