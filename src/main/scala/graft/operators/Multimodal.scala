package graft.operators

import java.awt.RenderingHints
import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (LLM-pipeline north star): image/audio/video
  * as opaque `binary` columns with typed metadata, processed by
  * per-partition batch operators (the Scala analog of Python's
  * `mapInPandas` — one iterator per partition, so decoder state amortizes
  * across the batch, never per row).
  *
  * The IMAGE path is a REAL codec: PNG/JPEG/BMP/GIF decode via the JDK's
  * `javax.imageio.ImageIO` (ships in every JVM, zero external deps) —
  * [[decodeImages]] reads actual pixels, [[resizeImage]] is a real
  * `Graphics2D` rescale, and [[encodePng]] produces real PNG payloads.
  * The AUDIO path is a REAL codec too: WAV/AIFF/AU decode via
  * `javax.sound.sampled.AudioSystem` ([[decodeAudio]] reads actual PCM
  * samples; [[encodeWav]] writes real RIFF payloads). The VIDEO path
  * does real per-frame codec work over a frame-packed container
  * ([[encodeVideo]]/[[decodeVideoFrames]]: length-prefixed real PNG
  * frames — the MJPEG idea with a lossless intra-frame codec; sampled
  * frames decode through ImageIO, skipped frames cost one seek). Only
  * INTER-frame compressed formats (h264/vp9) stay out of reach — the
  * JVM has no such codec; swapping javacpp/ffmpeg into the
  * [[decodeVideoFrames]] partition loop is a local change.
  */
object Multimodal {

  /** ImageIO defaults to FILE-backed stream caching — one temp file per
    * image read/write. Every payload here is an in-memory byte array, so
    * that cache is pure syscall overhead on small images. The setter is a
    * static boolean: called at the top of every codec closure so it takes
    * effect on EXECUTOR JVMs too, not just wherever the object
    * initialized.
    */
  @inline private def noDiskCache(): Unit = ImageIO.setUseCache(false)

  /** A media row: payload stays opaque binary end-to-end. */
  case class Media(media_id: Long, kind: String, payload: Array[Byte])

  /** Real-decode output: exact per-channel pixel sums (integers — the
    * oracle-friendly form; means are a single double division downstream)
    * plus a 16-bin luminance histogram for the embeddings handoff.
    */
  case class ImageStats(
      media_id: Long, width: Int, height: Int,
      sum_r: Long, sum_g: Long, sum_b: Long, features: Array[Double])

  /** Deterministic RGB test pattern: channel values are linear-congruential
    * in (media_id, x, y) mod 256 — closed-form, so an external oracle can
    * recompute the decoded channel sums without a codec.
    */
  def patternPixel(mediaId: Long, x: Int, y: Int): (Int, Int, Int) = (
    ((mediaId * 31 + x * 7 + y * 13) % 256).toInt,
    ((mediaId * 17 + x * 11 + y * 5) % 256).toInt,
    ((mediaId * 29 + x * 3 + y * 19) % 256).toInt)

  /** Encode a [[patternPixel]] image as a REAL PNG via ImageIO (lossless,
    * so decode recovers the pattern bit-exactly).
    */
  def encodePng(mediaId: Long, width: Int, height: Int): Array[Byte] = {
    val img = new BufferedImage(width, height, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val (r, g, b) = patternPixel(mediaId, x, y)
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    noDiskCache()
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Synthetic PNG corpus keyed off an id column: one real PNG per id with
    * pattern pixels and id-derived dimensions (8..16 × 8..14). This is the
    * test-data generator for the image pipeline — at production scale the
    * payloads arrive from a binary-column scan instead.
    */
  def syntheticImages(ids: DataFrame, idCol: String = "doc_id"): Dataset[Media] = {
    val spark = ids.sparkSession
    import spark.implicits._
    // widened (the encode and the downstream decode both run at this
    // frame's partitioning): see the 4-core table in Tables.widenCpu
    graft.Tables.widenCpu(ids.select(col(idCol).cast("long")))
      .as[Long].mapPartitions { it =>
      it.map { id =>
        Media(id, "image/png",
          encodePng(id, 8 + (id % 9).toInt, 8 + (id % 7).toInt))
      }
    }
  }

  /** REAL image decode + feature extraction: ImageIO parses the payload
    * (PNG/JPEG/BMP/GIF — format sniffed from the bytes), pixels are read
    * through one bulk `getRGB`, and features are exact integer channel
    * sums + a 16-bin luminance histogram. Batched per partition;
    * undecodable payloads are dropped (count them upstream if needed).
    */
  def decodeImages(media: Dataset[Media]): Dataset[ImageStats] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      noDiskCache()
      rows.flatMap { m =>
        // ImageIO.read returns null only for UNRECOGNIZED formats; a
        // recognized-but-corrupt payload (PNG truncated mid-IDAT) makes
        // the format reader THROW — catch it so one bad blob drops one
        // row, not the task (the drop contract the scaladoc promises).
        // NonFatal, not just IOException: hostile headers drive format
        // plugins into IllegalArgumentException / index errors too, and
        // those must drop the row the same way (OOM/Errors still kill
        // the task — NonFatal excludes them by design)
        val img = try ImageIO.read(new ByteArrayInputStream(m.payload))
          catch { case scala.util.control.NonFatal(_) => null }
        if (img == null) None
        else {
          val w = img.getWidth
          val h = img.getHeight
          val px = img.getRGB(0, 0, w, h, null, 0, w)
          var sr = 0L; var sg = 0L; var sb = 0L
          val hist = new Array[Double](16)
          var i = 0
          while (i < px.length) {
            val p = px(i)
            val r = (p >> 16) & 0xff; val g = (p >> 8) & 0xff; val b = p & 0xff
            sr += r; sg += g; sb += b
            hist(((r + g + b) / 3) >> 4) += 1.0
            i += 1
          }
          val n = math.max(px.length, 1).toDouble
          Some(ImageStats(m.media_id, w, h, sr, sg, sb, hist.map(_ / n)))
        }
      }
    }
  }

  /** REAL resize: decode via ImageIO, rescale with `Graphics2D` under
    * NEAREST_NEIGHBOR interpolation (deterministic integer source-pixel
    * mapping), re-encode as PNG. Composes with [[decodeImages]] — the
    * production decode→resize→featurize chain.
    */
  def resizeImage(media: Dataset[Media], targetW: Int, targetH: Int): Dataset[Media] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      noDiskCache()
      rows.flatMap { m =>
        // same corrupt-payload drop contract as [[decodeImages]]
        val img = try ImageIO.read(new ByteArrayInputStream(m.payload))
          catch { case scala.util.control.NonFatal(_) => null }
        if (img == null) None
        else {
          val out = new BufferedImage(targetW, targetH, BufferedImage.TYPE_INT_RGB)
          val g2 = out.createGraphics()
          g2.setRenderingHint(RenderingHints.KEY_INTERPOLATION,
            RenderingHints.VALUE_INTERPOLATION_NEAREST_NEIGHBOR)
          g2.drawImage(img, 0, 0, targetW, targetH, null)
          g2.dispose()
          val bos = new ByteArrayOutputStream()
          ImageIO.write(out, "png", bos)
          Some(Media(m.media_id, m.kind, bos.toByteArray))
        }
      }
    }
  }

  /** Decoded per-image channel means — the declared-query projection over
    * [[decodeImages]]: the division is the only double op (sums and pixel
    * counts are exact integers), so values are bit-identical to a
    * closed-form oracle over [[patternPixel]].
    */
  def imageFeatures(media: Dataset[Media]): DataFrame = {
    val n = (col("width") * col("height")).cast("double")
    decodeImages(media).toDF().select(
      col("media_id"), col("width"), col("height"),
      round(col("sum_r").cast("double") / n, 6).as("mean_r"),
      round(col("sum_g").cast("double") / n, 6).as("mean_g"),
      round(col("sum_b").cast("double") / n, 6).as("mean_b"))
  }

  /** Real-audio-decode output: exact integer sample stats (the
    * oracle-friendly form) plus a 16-bin amplitude histogram for the
    * embeddings handoff.
    */
  case class AudioStats(
      media_id: Long, sample_rate: Int, n_samples: Long,
      sum_abs: Long, zero_crossings: Long, features: Array[Double])

  /** Deterministic 16-bit PCM test signal: sample i of media m is
    * `((m*31 + i*7) % 2001) - 1000` — closed-form integer math, so an
    * external oracle recomputes the decoded sample stats without a codec.
    */
  def patternSample(mediaId: Long, i: Int): Int =
    (((mediaId * 31 + i.toLong * 7) % 2001) - 1000).toInt

  /** The JDK's audio codec providers, resolved ONCE per JVM.
    *
    * `AudioSystem.getAudioInputStream`/`AudioSystem.write` re-resolve
    * their provider list through `JDK13Services.getProviders` on EVERY
    * call — a `static synchronized` ServiceLoader scan that serializes
    * every decode thread in the JVM. On local[32] that lock convoy made
    * the audio path SUPER-linear (measured 14.6× for 10× clips at the
    * /tmp/sf1 checkpoint) while the equally-real ImageIO paths scale
    * linearly off ImageIO's cached registry. Resolving the providers
    * once and invoking them directly keeps the REAL JDK codec — same
    * parser, same bytes — without the global lock; at cluster scale the
    * same convoy would serialize every core of an executor.
    * (Empty provider lists can't happen on a stock JDK, but the users
    * below fall back to the `AudioSystem` entry points if so.)
    */
  private lazy val audioReaders: List[javax.sound.sampled.spi.AudioFileReader] = {
    val it = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
    val buf = scala.collection.mutable.ListBuffer
      .empty[javax.sound.sampled.spi.AudioFileReader]
    while (it.hasNext) buf += it.next()
    // Order matters (r17, the audio_features top-cost fix): WAVE readers
    // FIRST (the dominant payload), and the JDK's MIDI soundbank reader
    // (SoftMidiAudioFileReader) LAST — its getAudioInputStream
    // re-resolves MidiSystem.getMidiFileReaders through
    // JDK13Services.getProviders, a `static synchronized` ServiceLoader
    // scan, on EVERY call: the exact per-call global lock convoy the
    // cached resolution here exists to avoid, re-entered through one
    // cached provider. Thread-dump sampled at factor 100: 62/64
    // executor frames were parked inside that lock, making the decode
    // leg ~6 core-ms per 420-sample clip. First-parse-wins iteration
    // means WAV/AIFF/AU payloads never reach the MIDI reader; a genuine
    // MIDI payload still decodes, just at the lock's cost.
    val (midi, rest) = buf.toList
      .partition(_.getClass.getName.contains("SoftMidi"))
    val (wave, other) = rest
      .partition(_.getClass.getName.contains("Wave"))
    wave ::: other ::: midi
  }
  private lazy val wavWriter: Option[javax.sound.sampled.spi.AudioFileWriter] = {
    val it = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileWriter]).iterator()
    var found: Option[javax.sound.sampled.spi.AudioFileWriter] = None
    while (found.isEmpty && it.hasNext) {
      val w = it.next()
      if (w.isFileTypeSupported(javax.sound.sampled.AudioFileFormat.Type.WAVE))
        found = Some(w)
    }
    found
  }

  /** [[AudioSystem.getAudioInputStream]] minus the per-call provider
    * re-resolution: try each cached reader, first parse wins. */
  private def readAudio(payload: Array[Byte]): Option[javax.sound.sampled.AudioInputStream] = {
    val readers = audioReaders
    if (readers.isEmpty)
      return Some(javax.sound.sampled.AudioSystem.getAudioInputStream(
        new ByteArrayInputStream(payload)))
    readers.iterator.flatMap { r =>
      try Some(r.getAudioInputStream(new ByteArrayInputStream(payload)))
      catch { case scala.util.control.NonFatal(_) => None }
    }.nextOption()
  }

  /** Encode a [[patternSample]] signal as a REAL RIFF/WAV payload through
    * the JDK codec (the cached WAVE `AudioFileWriter` provider,
    * PCM_SIGNED 16-bit mono LE — lossless, so decode recovers the
    * samples bit-exactly).
    */
  def encodeWav(mediaId: Long, nSamples: Int, sampleRate: Int = 8000): Array[Byte] = {
    val pcm = new Array[Byte](nSamples * 2)
    var i = 0
    while (i < nSamples) {
      val s = patternSample(mediaId, i)
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      sampleRate.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new ByteArrayInputStream(pcm), fmt, nSamples.toLong)
    val bos = new ByteArrayOutputStream()
    wavWriter match {
      case Some(w) =>
        w.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      case None => javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    }
    bos.toByteArray
  }

  /** Synthetic WAV corpus keyed off an id column: one real WAV per id
    * with id-derived length (400..436 samples at 8 kHz).
    */
  def syntheticAudio(ids: DataFrame, idCol: String = "doc_id"): Dataset[Media] = {
    val spark = ids.sparkSession
    import spark.implicits._
    ids.select(col(idCol).cast("long")).as[Long].mapPartitions { it =>
      it.map(id => Media(id, "audio/wav",
        encodeWav(id, 400 + (id % 37).toInt)))
    }
  }

  /** REAL audio decode: `AudioSystem.getAudioInputStream` parses the
    * container (WAV/AIFF/AU — the JDK's built-in codecs), and features are
    * exact integer stats over the 16-bit PCM samples — total absolute
    * amplitude, strict zero crossings (sign product < 0), a 16-bin
    * amplitude histogram. Batched per partition; undecodable or
    * non-16-bit payloads are dropped.
    */
  def decodeAudio(media: Dataset[Media]): Dataset[AudioStats] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { m =>
        try readAudio(m.payload).flatMap { ais =>
          val fmt = ais.getFormat
          if (fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1) None
          else {
            val bytes = ais.readAllBytes()
            val n = bytes.length / 2
            var sumAbs = 0L
            var zc = 0L
            var prev = 0
            val hist = new Array[Double](16)
            var i = 0
            while (i < n) {
              val lo = bytes(2 * i) & 0xff
              val hi = bytes(2 * i + 1).toInt
              val s = if (fmt.isBigEndian) ((lo << 8) | (hi & 0xff)).toShort.toInt
                      else ((hi << 8) | lo).toShort.toInt
              sumAbs += math.abs(s)
              if (i > 0 && prev.toLong * s < 0) zc += 1
              hist((s + 32768) >> 12) += 1.0
              prev = s
              i += 1
            }
            Some(AudioStats(m.media_id, fmt.getSampleRate.toInt, n.toLong,
              sumAbs, zc, hist.map(_ / math.max(n, 1).toDouble)))
          }
        } catch { case scala.util.control.NonFatal(_) => None }
      }
    }
  }

  /** Decoded per-clip stats — the declared-query projection over
    * [[decodeAudio]]: every emitted value except `mean_abs` is an exact
    * integer, and `mean_abs` is a single double division — bit-identical
    * to a closed-form oracle over [[patternSample]].
    */
  def audioFeatures(media: Dataset[Media]): DataFrame =
    decodeAudio(media).toDF().select(
      col("media_id"), col("sample_rate"), col("n_samples"),
      col("sum_abs"), col("zero_crossings"),
      round(col("sum_abs").cast("double") /
        col("n_samples").cast("double"), 6).as("mean_abs"))

  // ---- REAL video path: frame-packed container of real PNG frames ------

  /** Per-sampled-frame decode output: exact integer channel sums. */
  case class VideoFrameStats(
      media_id: Long, frame_idx: Int, width: Int, height: Int,
      sum_r: Long, sum_g: Long, sum_b: Long)

  /** Encode a frame-packed video: `FPV1` magic, big-endian frame count,
    * then length-prefixed REAL PNG frames (the MJPEG idea with a lossless
    * intra-frame codec: every frame decodes through the real ImageIO
    * path, and losslessness keeps frame features closed-form for the
    * oracle). Frame f's pixels follow [[patternPixel]] keyed by
    * `mediaId·1000 + f`, so frames differ within one video.
    */
  def encodeVideo(mediaId: Long, nFrames: Int, width: Int,
      height: Int): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(bos)
    dos.writeBytes("FPV1")
    dos.writeInt(nFrames)
    var f = 0
    while (f < nFrames) {
      val png = encodePng(mediaId * 1000L + f, width, height)
      dos.writeInt(png.length)
      dos.write(png)
      f += 1
    }
    bos.toByteArray
  }

  /** Synthetic frame-packed video corpus keyed off an id column: 2-4
    * frames per video, id-derived dimensions. Test-data generator; at
    * production scale the payloads arrive from a binary-column scan.
    */
  def syntheticVideos(ids: DataFrame, idCol: String = "doc_id"): Dataset[Media] = {
    val spark = ids.sparkSession
    import spark.implicits._
    // widened: see the 4-core table in Tables.widenCpu
    graft.Tables.widenCpu(ids.select(col(idCol).cast("long")))
      .as[Long].mapPartitions { it =>
      it.map { id =>
        Media(id, "video/x-frame-packed",
          encodeVideo(id, 2 + (id % 3).toInt,
            8 + (id % 5).toInt, 8 + (id % 3).toInt))
      }
    }
  }

  /** REAL frame extraction + decode: walk the container, decode every
    * `stride`-th frame through ImageIO (actual pixel reads — the same
    * real-codec path as [[decodeImages]]), skip the rest by length field
    * without decoding (the point of frame sampling: unsampled frames
    * cost one seek, zero codec work). Batched per partition; truncated
    * or unparsable containers yield no rows.
    */
  def decodeVideoFrames(media: Dataset[Media],
      stride: Int = 2): Dataset[VideoFrameStats] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      noDiskCache()
      rows.flatMap { m =>
        val p = m.payload
        if (p.length < 8 || p(0) != 'F' || p(1) != 'P' || p(2) != 'V' ||
          p(3) != '1') Nil
        else try {
          val in = new java.io.DataInputStream(new ByteArrayInputStream(p))
          in.skipBytes(4)
          // every length field is ADVERSARIAL input on an opaque binary
          // column: a truncated container (readInt/readFully past the
          // end) or a hostile frame length (negative, or larger than
          // the remaining bytes) must yield no rows for THIS payload —
          // never an EOFException/NegativeArraySizeException/OOM that
          // kills the task (the drop contract of the scaladoc).
          val nFrames = in.readInt()
          if (nFrames < 0 || nFrames > p.length) Nil
          else (0 until nFrames).flatMap { f =>
            val len = in.readInt()
            if (len < 0 || len > in.available())
              throw new java.io.EOFException("frame length past payload end")
            if (f % stride != 0) { in.skipBytes(len); Nil }
            else {
              val buf = new Array[Byte](len)
              in.readFully(buf)
              val img = try ImageIO.read(new ByteArrayInputStream(buf))
                catch { case scala.util.control.NonFatal(_) => null }
              if (img == null) Nil
              else {
                val w = img.getWidth; val h = img.getHeight
                val px = img.getRGB(0, 0, w, h, null, 0, w)
                var sr = 0L; var sg = 0L; var sb = 0L
                var i = 0
                while (i < px.length) {
                  val v = px(i)
                  sr += (v >> 16) & 0xff; sg += (v >> 8) & 0xff; sb += v & 0xff
                  i += 1
                }
                Seq(VideoFrameStats(m.media_id, f, w, h, sr, sg, sb))
              }
            }
          }
        } catch { case scala.util.control.NonFatal(_) => Nil }
      }
    }
  }

  /** Per-sampled-frame mean channels — the oracle-checked query form of
    * the video pipeline (generate → decode every `stride`-th frame →
    * featurize).
    */
  def videoFeatures(media: Dataset[Media], stride: Int = 2): DataFrame = {
    val n = (col("width") * col("height")).cast("double")
    decodeVideoFrames(media, stride).toDF().select(
      col("media_id"), col("frame_idx"), col("width"), col("height"),
      round(col("sum_r").cast("double") / n, 6).as("mean_r"),
      round(col("sum_g").cast("double") / n, 6).as("mean_g"),
      round(col("sum_b").cast("double") / n, 6).as("mean_b"))
  }

  /** Cosine-ready embedding handoff: the decoded images' luminance
    * histograms in the embeddings table shape (`ARRAY<DOUBLE>` usable by
    * [[Similarity]] operators — the multimodal→vector handoff).
    */
  def imageEmbeddings(stats: Dataset[ImageStats]): DataFrame =
    stats.toDF().select(
      col("media_id").as("vec_id"),
      col("features").as("embedding"),
      lit("image/png").as("kind"))
}
