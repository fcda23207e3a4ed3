package graft.ops

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.ImageIO
import javax.sound.sampled.AudioSystem

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Multimodal columns for training-data pipelines: media travel as opaque
  * `binary` columns with typed metadata structs. Each transform (decode,
  * resize, frame-sample, test-card render) appends one column computed by a
  * typed Scala UDF of one input column; a null input gives a null output.
  * The UDF is marked nondeterministic, so Catalyst never copies it into a
  * pushed-down filter or a collapsed projection: each row is decoded once
  * however the result is filtered or selected.
  *
  * Codec status:
  *   - IMAGE decode/resize are REAL: `javax.imageio` ships in the JDK's
  *     `java.desktop` module (PNG/JPEG/BMP/GIF/WBMP readers) and runs
  *     headless; resize uses area-averaging via `java.awt.Image`.
  *   - AUDIO decode is REAL for the JDK-native containers (WAV/AIFF/AU,
  *     PCM): `javax.sound.sampled` parses format + frames, and features
  *     (duration, RMS) come from the actual samples.
  *   - VIDEO frame sampling remains a clearly-marked DETERMINISTIC STUB —
  *     the JDK has no video codec and the library takes no native
  *     dependency; the schema/null plumbing around it is real and tested, and a
  *     production build swaps `stubSampleFrames` for an FFmpeg-backed
  *     function of the same signature.
  *
  * Rows whose bytes fail to decode (not an image / truncated / unsupported
  * codec) yield a NULL meta struct rather than failing the job — at corpus
  * scale undecodable blobs are data, not errors. A bad parameter (a
  * thumbnail side or a frame count below 1) is a caller error and fails the
  * call itself.
  */
object Multimodal {

  /** Decoded image metadata: the struct `decodeImages` appends. */
  final case class ImageMeta(width: Int, height: Int, channels: Int, format: String,
      mean_intensity: Double)

  /** Decoded audio metadata: the struct `decodeAudios` appends. */
  final case class AudioMeta(sample_rate: Double, channels: Int, bits_per_sample: Int,
      duration_sec: Double, rms: Double)

  val imageMetaSchema: StructType = Encoders.product[ImageMeta].schema

  val audioMetaSchema: StructType = Encoders.product[AudioMeta].schema

  /** REAL image decode via javax.imageio. Returns null when the bytes are
    * not a decodable image. `mean_intensity` is the mean over all pixels of
    * (r+g+b)/3 in 0..255 — computed from the actual decoded raster.
    */
  private[ops] def decodeImage(bytes: Array[Byte]): ImageMeta = {
    try {
      val img = ImageIO.read(new ByteArrayInputStream(bytes))
      if (img == null) null
      else {
        val (w, h) = (img.getWidth, img.getHeight)
        val channels = img.getColorModel.getNumComponents
        val format = sniffFormat(bytes)
        // bulk row reads: per-pixel getRGB pays the ColorModel indirection
        // per call (~10-50x slower on the TYPE_3BYTE_BGR rasters JPEG/PNG
        // decode to); one scanline buffer keeps memory flat for huge images
        val rowBuf = new Array[Int](w)
        var sum = 0.0
        var y = 0
        while (y < h) {
          img.getRGB(0, y, w, 1, rowBuf, 0, w)
          var x = 0
          while (x < w) {
            val rgb = rowBuf(x)
            sum += (((rgb >>> 16) & 0xff) + ((rgb >>> 8) & 0xff) + (rgb & 0xff)) / 3.0
            x += 1
          }
          y += 1
        }
        ImageMeta(w, h, channels, format, sum / (w.toLong * h))
      }
    } catch { case _: Exception => null }
  }

  /** REAL resize: area-averaging scale, re-encoded as PNG bytes. Null for
    * undecodable inputs.
    */
  private[ops] def resizeImage(bytes: Array[Byte], w: Int, hgt: Int): Array[Byte] = {
    try {
      val img = ImageIO.read(new ByteArrayInputStream(bytes))
      if (img == null) null
      else {
        val thumb = new java.awt.image.BufferedImage(w, hgt,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = thumb.createGraphics()
        g.drawImage(img.getScaledInstance(w, hgt, java.awt.Image.SCALE_AREA_AVERAGING),
          0, 0, null)
        g.dispose()
        val bos = new ByteArrayOutputStream()
        ImageIO.write(thumb, "png", bos)
        bos.toByteArray
      }
    } catch { case _: Exception => null }
  }

  /** REAL audio decode for JDK-native containers (WAV/AIFF/AU, PCM).
    * Null for anything javax.sound can't parse (mp3, ogg, ...).
    */
  private[ops] def decodeAudio(bytes: Array[Byte]): AudioMeta = {
    try {
      val in = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
      try {
        val fmt = in.getFormat
        val frames = in.getFrameLength
        val duration =
          if (frames >= 0 && fmt.getFrameRate > 0) frames / fmt.getFrameRate.toDouble
          else 0.0
        val bits = fmt.getSampleSizeInBits
        // RMS over 16-bit PCM samples (the WAV default); other widths report
        // 0.0 rather than guessing at the sample layout. The stream is read
        // in fixed 64 KiB chunks — a multi-hundred-MB blob decodes in
        // constant executor memory (readAllBytes materialized the whole
        // decoded PCM stream per row). A sample straddling a chunk boundary
        // carries its first byte over, so the sample sequence — and the
        // accumulation order, hence the RMS bit pattern — is identical to
        // the single-buffer walk.
        var rms = 0.0
        if (bits == 16) {
          val buf = new Array[Byte](65536)
          var acc = 0.0
          var n = 0L
          val le = !fmt.isBigEndian
          // pending first byte of a straddling sample, masked to 0..255 so
          // a 0x80..0xFF byte can't sign-extend into the -1 sentinel
          var carry = -1
          var read = in.read(buf)
          while (read > 0) {
            var i = 0
            if (carry >= 0 && read >= 1) {
              // (carry << 8) keeps bit-parity with the contiguous walk: the
              // unsigned-byte high bits beyond 15 fall to .toShort either way
              val s =
                if (le) (carry | (buf(0) << 8)).toShort
                else ((buf(0) & 0xff) | (carry << 8)).toShort
              val v = s / 32768.0
              acc += v * v
              n += 1
              carry = -1
              i = 1
            }
            while (i + 1 < read) {
              val s =
                if (le) ((buf(i) & 0xff) | (buf(i + 1) << 8)).toShort
                else ((buf(i + 1) & 0xff) | (buf(i) << 8)).toShort
              val v = s / 32768.0
              acc += v * v
              n += 1
              i += 2
            }
            if (i < read) carry = buf(i) & 0xff
            read = in.read(buf)
          }
          if (n > 0) rms = math.sqrt(acc / n)
        }
        AudioMeta(fmt.getSampleRate.toDouble, fmt.getChannels, bits, duration, rms)
      } finally in.close()
    } catch { case _: Exception => null }
  }

  private def sniffFormat(b: Array[Byte]): String = {
    if (b.length >= 4 && (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') "png"
    else if (b.length >= 3 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) "jpeg"
    else if (b.length >= 2 && b(0) == 'B' && b(1) == 'M') "bmp"
    else if (b.length >= 4 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F') "gif"
    else "unknown"
  }

  /** DETERMINISTIC STUB frame sampling of a "video": n equal slices of the
    * byte stream stand in for decoded frames (the JDK has no video codec;
    * see the object scaladoc).
    */
  private[ops] def stubSampleFrames(bytes: Array[Byte], n: Int): Seq[Array[Byte]] = {
    if (bytes.isEmpty) Seq.empty
    else (0 until n).map { i =>
      val start = (bytes.length.toLong * i / n).toInt
      val end = (bytes.length.toLong * (i + 1) / n).toInt
      java.util.Arrays.copyOfRange(bytes, start, math.max(end, start + 1))
    }
  }

  /** `df` plus column `out`: `f` of column `in`, row by row; a null input
    * gives a null output. Nondeterministic, so Catalyst never copies the
    * call into a pushed-down filter or a collapsed projection.
    */
  private def mapColumn[A: TypeTag, B: TypeTag](df: DataFrame, in: String, out: String)(
      f: A => B): DataFrame =
    df.withColumn(out,
      udf((a: A) => if (a == null) null.asInstanceOf[B] else f(a)).asNondeterministic()(col(in)))

  /** Appends the decoded image metadata struct for `binCol` (real decode;
    * null for undecodable bytes).
    */
  def decodeImages(df: DataFrame, binCol: String, outCol: String = "image_meta"): DataFrame =
    mapColumn(df, binCol, outCol)(decodeImage)

  /** Appends a real `binary` PNG thumbnail column (null for undecodable
    * bytes). Both sides must be at least 1.
    */
  def resizeImages(df: DataFrame, binCol: String, width: Int, height: Int,
      outCol: String = "thumbnail"): DataFrame = {
    require(width >= 1 && height >= 1, s"thumbnail size must be at least 1x1, got ${width}x$height")
    mapColumn(df, binCol, outCol)(resizeImage(_: Array[Byte], width, height))
  }

  /** Appends the decoded audio metadata struct for `binCol` (real for
    * WAV/AIFF/AU; null otherwise).
    */
  def decodeAudios(df: DataFrame, binCol: String, outCol: String = "audio_meta"): DataFrame =
    mapColumn(df, binCol, outCol)(decodeAudio)

  /** Appends an `array<binary>` of n frames (video: deterministic stub); n
    * must be at least 1.
    */
  def sampleFrames(df: DataFrame, binCol: String, n: Int, outCol: String = "frames"): DataFrame = {
    require(n >= 1, s"frame count must be at least 1, got $n")
    mapColumn(df, binCol, outCol)(stubSampleFrames(_: Array[Byte], n))
  }

  /** Deterministic synthetic "test card": a solid-gray PNG whose shade and
    * width derive from the id (gray v = floorMod(id, 256), size
    * (8 + floorMod(id, 5)) x 8).
    * PNG is lossless, so the decoded metadata of a test card is exactly
    * predictable from the id — this is what lets driver-checked oracle
    * queries exercise the REAL ImageIO decode path even though the testdata
    * ships no image files.
    */
  private[ops] def renderTestCard(id: Long): Array[Byte] = {
    // floorMod, not signed %: a negative id keeps width >= 8 and gray in 0..255
    val w = 8 + Math.floorMod(id, 5L).toInt
    val h = 8
    val v = Math.floorMod(id, 256L).toInt
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (v << 16) | (v << 8) | v
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

  /** Appends a real PNG test-card blob per row of `idCol` (see
    * renderTestCard); a null id gives a null blob.
    */
  private[graft] def renderTestCards(df: DataFrame, idCol: String,
      outCol: String = "blob"): DataFrame =
    mapColumn(df, idCol, outCol)(renderTestCard)

  /** Deterministic synthetic audio "test card": a mono 16-bit PCM WAV at
    * 8 kHz (real `javax.sound` encode), `800 + (id % 5) * 80` frames of a
    * Nyquist square wave with amplitude `1000 + id % 8000`. Every decoded
    * field is EXACTLY predictable from the id — including the RMS, because
    * every sample magnitude equals the amplitude and amp/32768 is a dyadic
    * rational, so sum-of-squares, mean, and sqrt are all exact in IEEE-754:
    * rms == (1000 + floorMod(id, 8000)) / 32768.0 bit-for-bit. This is the audio
    * analog of [[renderTestCard]]: it lets a driver-checked oracle query
    * exercise the REAL javax.sound decode path with no audio files in the
    * testdata.
    */
  private[ops] def renderAudioTestCard(id: Long): Array[Byte] = {
    // floorMod: Scala's signed % would make a negative id's amplitude
    // non-positive (even zero), silently breaking the bit-exact RMS contract
    val frames = 800 + Math.floorMod(id, 5L).toInt * 80
    val amp = 1000 + Math.floorMod(id, 8000L).toInt
    val data = new Array[Byte](frames * 2)
    var i = 0
    while (i < frames) {
      val s = (if (i % 2 == 0) amp else -amp).toShort
      data(2 * i) = (s & 0xff).toByte
      data(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new ByteArrayInputStream(data), fmt, frames.toLong)
    val bos = new ByteArrayOutputStream()
    try AudioSystem.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    finally ais.close()
    bos.toByteArray
  }

  /** Appends a real WAV test-card blob per row of `idCol` (see
    * renderAudioTestCard); a null id gives a null blob.
    */
  private[graft] def renderAudioTestCards(df: DataFrame, idCol: String,
      outCol: String = "blob"): DataFrame =
    mapColumn(df, idCol, outCol)(renderAudioTestCard)

  /** Pure-column feature extraction that needs no codec at all: byte length +
    * content hash + magic-byte sniffing (real logic, not a stub).
    */
  def binaryFeatures(df: DataFrame, binCol: String): DataFrame = {
    val b = col(binCol)
    df.withColumn(s"${binCol}_bytes", length(b))
      .withColumn(s"${binCol}_hash", graft.functions.wyhash64(b))
      .withColumn(s"${binCol}_sniffed_format",
        when(b.startsWith(lit(Array[Byte](0x89.toByte, 'P', 'N', 'G'))), "png")
          .when(b.startsWith(lit(Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte))), "jpeg")
          .when(b.startsWith(lit("RIFF".getBytes("UTF-8"))), "riff")
          .when(b.startsWith(lit(Array[Byte]('<', 'h', 't', 'm', 'l'))), "html")
          .otherwise("unknown"))
  }
}
