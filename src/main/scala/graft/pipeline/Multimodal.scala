package graft.pipeline

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/**
 * Multimodal column plumbing: image/audio/video payloads ride as
 * opaque `binary` columns with typed metadata, processed
 * partition-parallel in batches. All three decode paths are REAL
 * codecs from the public JDK standard library — `javax.imageio`
 * (PNG/JPEG/BMP) for images, `javax.sound.sampled` (WAV/PCM) for
 * audio, and for video an MJPNG-style container (length-prefixed PNG
 * frames) whose per-frame decode is again ImageIO. The JDK has no
 * H.264/VP9 bitstream codec, so the container is the codec-complete
 * stand-in: the stride-sampled container walk + per-frame decode +
 * histogram aggregation is exactly the batch shape a production FFI
 * decoder (e.g. an ffmpeg binding) plugs into, and every emitted value
 * is a codec-produced fact the fixture parameters predict.
 */
object Multimodal {

  // ImageIO defaults to a DISK-backed stream cache: every
  // encode/decode of an in-memory payload round-trips a temp file,
  // which at 32 decode threads serializes on filesystem I/O (measured
  // [3.6s, 9.2s] trial spread on the 500-payload fixture). In-memory
  // payloads need the memory cache; executors inherit this via the
  // class init that mapPartitions triggers.
  ImageIO.setUseCache(false)

  /** One media object: payload + typed metadata. */
  final case class MediaRecord(
      media_id: Long,
      kind: String,           // image | audio | video
      payload: Array[Byte],
      width: Int, height: Int,
      sample_rate: Int, n_frames: Int)

  /** Decoded features; fields are per-kind (null where not
    * applicable) so every value the decoder emits is exact and
    * externally checkable. */
  final case class MediaFeatures(
      media_id: Long,
      kind: String,
      width_px: Option[Int], height_px: Option[Int],
      dominant_bin: Option[Int], dominant_frac: Option[Double],
      sample_rate_hz: Option[Int], n_samples: Option[Long], peak: Option[Int],
      frames_sampled: Option[Int])

  /** Encode a w×h PNG where every pixel is the same gray level —
    * deterministic, so decoded features are externally predictable. */
  def pngBytes(w: Int, h: Int, gray: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val rgb = (gray << 16) | (gray << 8) | gray
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Encode a mono 16-bit little-endian PCM WAV of n constant-value
    * samples. */
  def wavBytes(sampleRate: Int, amplitude: Int, n: Int): Array[Byte] = {
    val fmt = new AudioFormat(sampleRate.toFloat, 16, 1,
      /* signed = */ true, /* bigEndian = */ false)
    val data = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      data(2 * i) = (amplitude & 0xFF).toByte
      data(2 * i + 1) = ((amplitude >> 8) & 0xFF).toByte
      i += 1
    }
    val ais = new AudioInputStream(new ByteArrayInputStream(data), fmt, n.toLong)
    val bos = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Encode an MJPNG-style video container: nFrames length-prefixed
    * PNG frames (4-byte big-endian length, then the frame bytes). A
    * public, fully-decodable stand-in for a video bitstream. */
  def videoBytes(w: Int, h: Int, gray: Int, nFrames: Int): Array[Byte] = {
    val frame = pngBytes(w, h, gray)
    val bos = new ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    var i = 0
    while (i < nFrames) { out.writeInt(frame.length); out.write(frame); i += 1 }
    out.flush()
    bos.toByteArray
  }

  /** Deterministic synthetic corpus derived from the documents table:
    * payloads are REAL PNG / WAV / MJPNG bytes encoded from
    * doc_id-derived parameters, metadata typed as a real pipeline
    * would carry it. Video frames are kept small (≤16×12) so the
    * per-frame decode cost is bounded by design, like a thumbnail
    * stream. */
  def syntheticMedia(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)].map {
      case (id, _) =>
        val kind = (id % 3) match {
          case 0 => "image"; case 1 => "audio"; case _ => "video"
        }
        val (w, h) = kind match {
          case "video" => ((id % 16 + 1).toInt, (id % 12 + 1).toInt)
          case _       => ((id % 64 + 1).toInt, (id % 48 + 1).toInt)
        }
        val nFrames = (id % 30 + 1).toInt
        val payload = kind match {
          case "image" => pngBytes(w, h, (id % 256).toInt)
          case "audio" => wavBytes(16000, (id % 1000).toInt, (id % 100 + 10).toInt)
          case _       => videoBytes(w, h, (id % 256).toInt, nFrames)
        }
        MediaRecord(id, kind, payload, w, h, 16000, nFrames)
    }.toDF()
  }

  /** 16-bin luminance histogram accumulated over one decoded image. */
  private def accumulateHist(img: BufferedImage, hist: Array[Long]): Unit = {
    val w = img.getWidth; val h = img.getHeight
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val lum = (((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)) / 3
        hist(lum / 16) += 1
        x += 1
      }
      y += 1
    }
  }

  /** Real per-batch decode: ImageIO for images (any JDK-supported
    * container — PNG/JPEG/BMP/GIF), javax.sound.sampled for audio
    * (WAV/AU/AIFF PCM), stride-sampled container walk + per-frame
    * ImageIO for video (every frameStride-th frame is decoded; the
    * rest are skipped without decoding, like keyframe sampling). */
  private def decodeBatch(records: Iterator[MediaRecord],
      frameStride: Int): Iterator[MediaFeatures] =
    records.map { r =>
      r.kind match {
        case "image" =>
          val img = ImageIO.read(new ByteArrayInputStream(r.payload))
          require(img != null, s"media_id=${r.media_id}: undecodable image")
          val w = img.getWidth; val h = img.getHeight
          // 16-bin luminance histogram; dominant bin + its share
          val hist = new Array[Long](16)
          accumulateHist(img, hist)
          val dom = hist.indices.maxBy(hist(_))
          val total = w.toLong * h
          MediaFeatures(r.media_id, r.kind, Some(w), Some(h),
            Some(dom), Some(hist(dom).toDouble / total),
            None, None, None, None)
        case "audio" =>
          val raw = AudioSystem.getAudioInputStream(
            new ByteArrayInputStream(r.payload))
          val srcFmt = raw.getFormat
          // normalize to signed 16-bit little-endian PCM before the
          // peak scan: AU/AIFF are big-endian and 8-bit WAV is one
          // byte per sample — parsing those as 16-bit LE silently
          // byte-swaps/misframes every sample
          val target = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
            srcFmt.getSampleRate, 16, srcFmt.getChannels,
            srcFmt.getChannels * 2, srcFmt.getSampleRate,
            /* bigEndian = */ false)
          // getAudioInputStream(target, raw) throws
          // IllegalArgumentException when the JDK has no converter for
          // the source encoding (e.g. PCM_FLOAT) — fall back to the
          // raw stream rather than failing the whole partition: the
          // peak scan below then reads the original bytes as 16-bit
          // LE, which is exact for PCM_SIGNED/16/LE sources and a
          // best-effort approximation otherwise (still a bounded,
          // deterministic number — the contract multimodal features
          // need).
          val ais =
            if (srcFmt.matches(target)) raw
            else try AudioSystem.getAudioInputStream(target, raw)
              catch { case _: IllegalArgumentException => raw }
          val bytes = ais.readAllBytes()
          // a converted stream may report NOT_SPECIFIED (-1) frames;
          // the source header usually knows, and the decoded byte
          // count is an exact last resort (frames = bytes/frameSize —
          // PCM conversion never changes the frame COUNT, only the
          // frame size)
          val n =
            if (ais.getFrameLength >= 0) ais.getFrameLength
            else if (raw.getFrameLength >= 0) raw.getFrameLength
            else bytes.length.toLong / math.max(1, ais.getFormat.getFrameSize)
          // peak |sample| over the normalized 16-bit LE PCM
          var peak = 0
          var i = 0
          while (i + 1 < bytes.length) {
            val s = ((bytes(i) & 0xFF) | (bytes(i + 1) << 8)).toShort.toInt
            val a = math.abs(s)
            if (a > peak) peak = a
            i += 2
          }
          MediaFeatures(r.media_id, r.kind, None, None, None, None,
            Some(srcFmt.getSampleRate.toInt), Some(n), Some(peak), None)
        case _ => // video: MJPNG container, stride-sampled frame decode
          val in = new java.io.DataInputStream(
            new ByteArrayInputStream(r.payload))
          val hist = new Array[Long](16)
          var w = 0; var h = 0
          var idx = 0; var sampled = 0
          while (in.available() >= 4) {
            val len = in.readInt()
            val buf = new Array[Byte](len)
            in.readFully(buf)
            if (idx % frameStride == 0) {
              val img = ImageIO.read(new ByteArrayInputStream(buf))
              require(img != null,
                s"media_id=${r.media_id}: undecodable frame $idx")
              w = img.getWidth; h = img.getHeight
              accumulateHist(img, hist)
              sampled += 1
            }
            idx += 1
          }
          require(sampled > 0, s"media_id=${r.media_id}: empty video")
          val dom = hist.indices.maxBy(hist(_))
          val total = hist.sum
          MediaFeatures(r.media_id, r.kind, Some(w), Some(h),
            Some(dom), Some(hist(dom).toDouble / total),
            None, None, None, Some(sampled))
      }
    }

  /** Feature extraction: mapPartitions keeps the codec call batched
    * per partition — the Scala analogue of mapInPandas batch shape —
    * so decoder/codec init amortizes per partition, not per row. */
  def extractFeatures(media: DataFrame, frameStride: Int = 2): Dataset[MediaFeatures] = {
    // fail at the driver: stride 0 would throw `/ by zero` inside an
    // executor task after the job is already running, and a negative
    // stride silently samples only frame 0
    require(frameStride > 0, "frameStride must be positive")
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRecord].mapPartitions(it => decodeBatch(it, frameStride))
  }

  /** Resize metadata transform (pure column math — no decode needed):
    * clamps to maxDim preserving aspect ratio. */
  def resizePlan(media: DataFrame, maxDim: Int): DataFrame = {
    val scale = least(lit(maxDim) / greatest(col("width"), col("height")).cast("double"), lit(1.0))
    media.withColumn("target_width", ceil(col("width") * scale).cast("int"))
      .withColumn("target_height", ceil(col("height") * scale).cast("int"))
  }

  /**
   * Header-only media metadata scan: container kind, dimensions, and
   * audio parameters parsed from the FIRST BYTES of the payload with
   * pure column expressions — zero codec invocation. At 100 TB of
   * media this is the difference between a metadata audit that costs
   * a full decode pass (the dominant CPU in [[extractFeatures]],
   * video ≈3.6× image) and one that is a scan plus a handful of
   * codegen'd byte reads per row; on a pointer-based lake (payloads
   * as object-store keys) the same expressions run over ranged
   * header GETs without touching pixel data.
   *
   * Formats (all public specifications):
   *  - PNG: 8-byte signature, then IHDR — width/height big-endian
   *    32-bit at offsets 17/21, bit depth and color type at 25/26.
   *  - WAV: canonical RIFF/WAVE layout — "fmt " chunk at 13 (PCM,
   *    16-byte body), channels LE16@23, sample rate LE32@25, bits
   *    per sample LE16@35, "data" size LE32@41; n_samples derived as
   *    data_bytes / (channels · bits/8).
   *  - MJPNG (this repo's video container): 4-byte big-endian frame
   *    length then a PNG frame — dimensions from the embedded frame
   *    header at offset 4+.
   * Unrecognized payloads keep a row with kind_detected='unknown'
   * and null fields — an audit must count them, not drop them.
   */
  def headerMeta(media: DataFrame, payloadCol: String = "payload",
      idCol: String = "media_id"): DataFrame = {
    val bin = col(payloadCol)
    def u8(pos: Column): Column =
      conv(hex(substring(bin, pos, lit(1))), 16, 10).cast("long")
    def be32(pos: Column): Column =
      conv(hex(substring(bin, pos, lit(4))), 16, 10).cast("long")
    def le16(pos: Column): Column = u8(pos) + u8(pos + 1) * 256L
    def le32(pos: Column): Column =
      u8(pos) + u8(pos + 1) * 256L + u8(pos + 2) * 65536L +
        u8(pos + 3) * 16777216L
    val pngMagic = "89504E470D0A1A0A"
    val isPng = hex(substring(bin, 1, 8)) === pngMagic
    // The fixed offsets below assume the CANONICAL 44-byte layout, so
    // detection requires the "fmt " and "data" chunk tags at exactly
    // those offsets too — a real-world WAV with a LIST/fact chunk
    // before either would otherwise be classified 'wav' and mis-read
    // silently; the audit intent is that it lands in 'unknown'.
    val isWav = hex(substring(bin, 1, 4)) === "52494646" &&  // RIFF
      hex(substring(bin, 9, 4)) === "57415645" &&            // WAVE
      hex(substring(bin, 13, 4)) === "666D7420" &&           // "fmt "
      hex(substring(bin, 37, 4)) === "64617461"              // "data"
    val isMjpng = hex(substring(bin, 5, 8)) === pngMagic
    // PNG IHDR offset: 1 inside the container (after the 4-byte frame
    // length), 0 standalone
    val off = when(isMjpng, 4).otherwise(0)
    val imageLike = isPng || isMjpng
    val channels = when(isWav, le16(lit(23)))
    val bits = when(isWav, le16(lit(35)))
    val dataBytes = when(isWav, le32(lit(41)))
    media.select(col(idCol),
      when(isPng, "png").when(isWav, "wav").when(isMjpng, "mjpng")
        .otherwise("unknown").as("kind_detected"),
      when(imageLike, be32(off + 17)).cast("int").as("width_px"),
      when(imageLike, be32(off + 21)).cast("int").as("height_px"),
      when(imageLike, u8(off + 25)).cast("int").as("bit_depth"),
      when(imageLike, u8(off + 26)).cast("int").as("color_type"),
      channels.cast("int").as("channels"),
      when(isWav, le32(lit(25))).cast("int").as("sample_rate_hz"),
      bits.cast("int").as("bits_per_sample"),
      // exact: data bytes are a multiple of the frame size by format
      (dataBytes * 8L / (channels * bits)).cast("long").as("n_samples"))
  }

  /** Encode a w×h PNG with a horizontal gray gradient clamped at 255:
    * pixel(x, y) = min(g0 + x·step, 255). Deterministic and lossless,
    * so the decoded pixels — and everything computed from them — are
    * externally predictable from (g0, step). */
  def pngGradientBytes(w: Int, h: Int, g0: Int, step: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var x = 0
    while (x < w) {
      val g = math.min(g0 + x * step, 255)
      val rgb = (g << 16) | (g << 8) | g
      var y = 0
      while (y < h) { img.setRGB(x, y, rgb); y += 1 }
      x += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Deterministic 16×16 gradient-image corpus: every 3 consecutive
    * doc ids share identical encoding parameters — real duplicate
    * groups for the perceptual dedup path. */
  def syntheticGradientImages(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].map { id =>
      val p = id / 3
      val g0 = ((p % 20) * 10).toInt
      val step = (p % 7 + 1).toInt
      (id, pngGradientBytes(16, 16, g0, step))
    }.toDF("media_id", "payload")
  }

  /** 64-bit average hash (aHash) per image — the standard perceptual
    * fingerprint: decode, 8×8 block-mean downsample (integer floor),
    * bit i set iff block i's mean is STRICTLY above the global pixel
    * mean (also floored). Blocks are row-major (bit = 8·by + bx).
    * Requires width and height divisible by 8; integer arithmetic
    * end to end so the hash is externally replicable from the
    * encoding parameters of a lossless fixture.
    *
    * Scale shape: mapPartitions decode (same batched-codec contract
    * as [[extractFeatures]]) emitting (media_id, ahash) — 16 bytes per
    * image downstream of the decode, whatever the payload size. */
  def aHash64(media: DataFrame): Dataset[(Long, Long)] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val img = ImageIO.read(new ByteArrayInputStream(payload))
        require(img != null, s"media_id=$id: undecodable image")
        val w = img.getWidth; val h = img.getHeight
        require(w % 8 == 0 && h % 8 == 0,
          s"media_id=$id: aHash needs 8-divisible dims, got ${w}x$h")
        val bw = w / 8; val bh = h / 8
        val sums = new Array[Long](64)
        var total = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val g = img.getRGB(x, y) & 0xFF // fixture grays: R=G=B
            sums((y / bh) * 8 + (x / bw)) += g
            total += g
            x += 1
          }
          y += 1
        }
        val overall = total / (w.toLong * h)
        var hash = 0L
        var i = 0
        while (i < 64) {
          if (sums(i) / (bw.toLong * bh) > overall) hash |= (1L << i)
          i += 1
        }
        (id, hash)
      })
  }

  /** Perceptual-hash image dedup: group by aHash, keep the smallest
    * id per group — the multimodal member of the dedup family
    * (exact-byte dedup misses re-encoded copies; the perceptual hash
    * collapses them). One decode pass, then a 16-byte-row groupBy
    * keyed by the hash; for near-duplicate (small-Hamming) matching
    * at scale, band the 64-bit hash exactly like SimHash
    * (`Dedup.simhashNearDupPairs` banding applies unchanged).
    * Output: (media_id, ahash, keep_id). */
  def perceptualDedup(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val hashed = aHash64(media).toDF("media_id", "ahash")
    val keep = hashed.groupBy("ahash")
      .agg(min(col("media_id")).as("keep_id"))
    hashed.join(keep, Seq("ahash"))
      .select(col("media_id"), col("ahash"), col("keep_id"))
  }
}
