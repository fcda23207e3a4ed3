package graft.ops

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.ImageIO
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import graft.SharedSpark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  /** Real PNG bytes: solid-color w x h image. */
  private def png(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Real JPEG bytes. */
  private def jpeg(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, 0x808080)
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  /** Real 16-bit PCM WAV: mono sine wave. */
  private def wav(sampleRate: Float, seconds: Double, amplitude: Double): Array[Byte] = {
    val n = (sampleRate * seconds).toInt
    val data = new Array[Byte](n * 2)
    for (i <- 0 until n) {
      val v = (amplitude * math.sin(2 * math.Pi * 440.0 * i / sampleRate) * 32767).toInt
      data(i * 2) = (v & 0xff).toByte
      data(i * 2 + 1) = ((v >> 8) & 0xff).toByte
    }
    val fmt = new AudioFormat(sampleRate, 16, 1, true, false)
    val ais = new AudioInputStream(new ByteArrayInputStream(data), fmt, n.toLong)
    val bos = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  private def binDf = Seq(
    (1L, png(20, 10, 0x406080)),
    (2L, jpeg(8, 6)),
    (3L, "<html><body>not an image</body></html>".getBytes("UTF-8")),
    (4L, null.asInstanceOf[Array[Byte]])
  ).toDF("id", "blob")

  test("decodeImages: REAL decode — exact dims, channels, format, mean intensity") {
    val out = Multimodal.decodeImages(binDf, "blob")
    assert(out.schema.fieldNames.toSeq == Seq("id", "blob", "image_meta"))
    assert(out.schema("image_meta").dataType == Multimodal.imageMetaSchema)
    assert(Multimodal.imageMetaSchema.map(f => f.name -> f.dataType) == Seq(
      "width" -> IntegerType, "height" -> IntegerType, "channels" -> IntegerType,
      "format" -> StringType, "mean_intensity" -> DoubleType))
    val rows = out.orderBy($"id").collect()
    val m1 = rows(0).getStruct(2)
    assert(m1.getInt(0) == 20 && m1.getInt(1) == 10)
    assert(m1.getInt(2) == 3)
    assert(m1.getString(3) == "png")
    // solid 0x406080: mean = (0x40 + 0x60 + 0x80)/3 exactly
    assert(math.abs(m1.getDouble(4) - (0x40 + 0x60 + 0x80) / 3.0) < 1e-9)
    val m2 = rows(1).getStruct(2)
    assert(m2.getInt(0) == 8 && m2.getInt(1) == 6 && m2.getString(3) == "jpeg")
    assert(rows(2).isNullAt(2), "non-image bytes must give null meta, not fail")
    assert(rows(3).isNullAt(2), "null blob must give null meta")
    // deterministic across runs
    val again = Multimodal.decodeImages(binDf, "blob").orderBy($"id").collect()
    assert(again(0).getStruct(2) == m1)
  }

  test("resizeImages: REAL thumbnails decode to the target size with the source color") {
    val resized = Multimodal.resizeImages(binDf, "blob", 5, 4)
      .select($"id", $"thumbnail").orderBy($"id").collect()
    val thumb = ImageIO.read(new ByteArrayInputStream(resized(0).getAs[Array[Byte]](1)))
    assert(thumb.getWidth == 5 && thumb.getHeight == 4)
    assert((thumb.getRGB(2, 2) & 0xffffff) == 0x406080, "solid color must survive resize")
    assert(resized(2).isNullAt(1) && resized(3).isNullAt(1))
  }

  test("decodeAudios: REAL WAV parse — format, duration, RMS of the sine") {
    val df = Seq(
      (1L, wav(8000f, 0.5, 0.6)),
      (2L, "definitely not audio".getBytes("UTF-8")),
      (3L, null.asInstanceOf[Array[Byte]])
    ).toDF("id", "blob")
    val decoded = Multimodal.decodeAudios(df, "blob")
    assert(decoded.schema("audio_meta").dataType == Multimodal.audioMetaSchema)
    assert(Multimodal.audioMetaSchema.map(f => f.name -> f.dataType) == Seq(
      "sample_rate" -> DoubleType, "channels" -> IntegerType, "bits_per_sample" -> IntegerType,
      "duration_sec" -> DoubleType, "rms" -> DoubleType))
    val rows = decoded.orderBy($"id").collect()
    val a = rows(0).getStruct(2)
    assert(a.getDouble(0) == 8000.0)
    assert(a.getInt(1) == 1 && a.getInt(2) == 16)
    assert(math.abs(a.getDouble(3) - 0.5) < 1e-3, s"duration ${a.getDouble(3)}")
    // RMS of a sine of amplitude 0.6 is 0.6/sqrt(2) ~ 0.4243
    assert(math.abs(a.getDouble(4) - 0.6 / math.sqrt(2)) < 0.01, s"rms ${a.getDouble(4)}")
    assert(rows(1).isNullAt(2) && rows(2).isNullAt(2))
  }

  test("decodeAudios: RMS is exact across multiple 64 KiB read chunks") {
    // 10 s at 8 kHz mono16 = 160,000 PCM bytes ~ 2.4 chunks: the chunked
    // accumulator (which replaced readAllBytes) must agree with the known
    // closed form; odd total-sample counts exercise the tail handling
    val df = Seq((1L, wav(8000f, 10.0, 0.25))).toDF("id", "blob")
    val a = Multimodal.decodeAudios(df, "blob").collect()(0).getStruct(2)
    assert(math.abs(a.getDouble(3) - 10.0) < 1e-3, s"duration ${a.getDouble(3)}")
    assert(math.abs(a.getDouble(4) - 0.25 / math.sqrt(2)) < 1e-3, s"rms ${a.getDouble(4)}")
  }

  test("frame sampling produces typed outputs of the right shape (video stub)") {
    val frames = Multimodal.sampleFrames(binDf.filter($"blob".isNotNull), "blob", 4)
      .select($"id", size($"frames").as("n")).collect()
    assert(frames.forall(_.getInt(1) == 4))
  }

  test("binaryFeatures sniffs magic bytes without any decode") {
    val out = Multimodal.binaryFeatures(binDf.filter($"blob".isNotNull), "blob")
      .select($"id", $"blob_sniffed_format").orderBy($"id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "png" && out(2L) == "jpeg" && out(3L) == "html")
  }

  test("batching preserves every row across multiple partitions; decodables decode") {
    val big = (0 until 500).map { i =>
      val blob = if (i % 5 == 0) png(4 + i % 3, 4, 0x112233)
      else s"payload-$i".getBytes("UTF-8")
      (i.toLong, blob)
    }.toDF("id", "blob").repartition(7)
    val out = Multimodal.decodeImages(big, "blob").cache()
    assert(out.count() == 500L)
    val decoded = out.filter($"image_meta".isNotNull).count()
    assert(decoded == 100L, s"exactly the planted PNGs must decode, got $decoded")
    out.unpersist()
  }

  test("renderAudioTestCards: REAL WAV round-trip with BIT-EXACT predicted metadata") {
    // the audio analog of the PNG test cards: every decoded field, including
    // the RMS, is an exact closed-form function of the id (see
    // renderAudioTestCard's exactness argument)
    val ids = (0L until 12L).map(Tuple1(_)).toDF("doc_id")
    val out = Multimodal.decodeAudios(
      Multimodal.renderAudioTestCards(ids, "doc_id"), "blob")
      .select($"doc_id",
        $"audio_meta.sample_rate", $"audio_meta.channels",
        $"audio_meta.bits_per_sample", $"audio_meta.duration_sec",
        $"audio_meta.rms")
      .collect()
    assert(out.length == 12)
    out.foreach { r =>
      val id = r.getLong(0)
      assert(r.getDouble(1) == 8000.0, s"sample_rate id=$id: $r")
      assert(r.getInt(2) == 1 && r.getInt(3) == 16, s"channels/bits id=$id: $r")
      assert(r.getDouble(4) == (800 + (id % 5) * 80).toDouble / 8000.0,
        s"duration id=$id: $r")
      assert(r.getDouble(5) == (1000 + id % 8000).toDouble / 32768.0,
        s"rms must be bit-exact, id=$id: $r")
    }
  }

  test("each transform decodes once per row under a filter and a multi-field select") {
    // a file scan: a projection over a local relation is folded away at
    // optimization, and with it the call under test
    val dir = java.nio.file.Files.createTempDirectory("graft_multimodal_").toString + "/t"
    binDf.write.parquet(dir)
    val in = spark.read.parquet(dir)
    def udfCalls(df: DataFrame): Int = df.queryExecution.optimizedPlan
      .flatMap(_.expressions.flatMap(_.collect { case u: ScalaUDF => u })).size
    val queries = Seq(
      Multimodal.decodeImages(in, "blob").filter($"image_meta".isNotNull)
        .select($"image_meta.width", $"image_meta.height"),
      Multimodal.decodeAudios(in, "blob").filter($"audio_meta".isNotNull)
        .select($"audio_meta.rms", $"audio_meta.duration_sec"),
      Multimodal.resizeImages(in, "blob", 4, 4).filter($"thumbnail".isNotNull)
        .select($"id", length($"thumbnail"), $"thumbnail"))
    queries.foreach { q =>
      assert(udfCalls(q) == 1, q.queryExecution.optimizedPlan)
      q.collect()
    }
  }

  test("renderTestCard decodes a negative id to the documented width and gray") {
    // width 8 + floorMod(id, 5), gray floorMod(id, 256): -3 -> 10 px of 253,
    // -300 -> 8 px of 212 (signed % gave -3 a width of 5 and a near-white card)
    val meta = Seq(-3L, -300L).map(id => Multimodal.decodeImage(Multimodal.renderTestCard(id)))
    assert(meta == Seq(
      Multimodal.ImageMeta(10, 8, 3, "png", 253.0),
      Multimodal.ImageMeta(8, 8, 3, "png", 212.0)))
  }

  test("test-card renderers give a null blob for a null id") {
    val ids = Seq(Some(1L), None).toDF("doc_id")
    val out = Multimodal.renderAudioTestCards(
      Multimodal.renderTestCards(ids, "doc_id", "png"), "doc_id", "wav")
      .orderBy($"doc_id".asc_nulls_last).collect()
    assert(!out(0).isNullAt(1) && !out(0).isNullAt(2))
    assert(out(1).isNullAt(0) && out(1).isNullAt(1) && out(1).isNullAt(2))
  }

  test("resizeImages refuses a thumbnail side below 1") {
    intercept[IllegalArgumentException](Multimodal.resizeImages(binDf, "blob", 0, 4))
    intercept[IllegalArgumentException](Multimodal.resizeImages(binDf, "blob", 4, -1))
  }

  test("sampleFrames refuses a frame count below 1") {
    intercept[IllegalArgumentException](Multimodal.sampleFrames(binDf, "blob", 0))
  }
}
