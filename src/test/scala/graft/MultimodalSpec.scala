package graft

import org.apache.spark.sql.functions._
import graft.operators.Multimodal

/** Multimodal plumbing: binary payload schema, per-partition batch
  * feature extraction (REAL ImageIO decode for images, stub fallback),
  * frame sampling shape.
  */
class MultimodalSpec extends SparkTestBase {
  import spark.implicits._

  private def media = Multimodal.fromDocuments(Tables.documents(spark, sf0001))

  /** Encode a w×h image as real PNG bytes, pixels from `rgb(x, y)`. */
  private def png(w: Int, h: Int)(rgb: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb(x, y))
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  test("media table carries opaque binary payload + typed metadata") {
    val schema = media.schema
    assert(schema("payload").dataType.typeName === "binary")
    val meta = schema("meta").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(meta.fieldNames.toSeq === Seq("mime", "n_bytes", "width", "height"))
    val row = media.orderBy("media_id").first()
    assert(row.getAs[Array[Byte]]("payload").nonEmpty)
  }

  test("feature extraction emits normalized fixed-width vectors per row") {
    val feats = Multimodal.extractFeatures(media)
    assert(feats.count() === media.count())
    val f = feats.orderBy("media_id").first().getSeq[Float](1)
    assert(f.length === 16)
    assert(math.abs(f.sum - 1.0f) < 1e-3, s"histogram must be normalized: ${f.sum}")
  }

  test("stub decode is deterministic") {
    val b = "some payload bytes".getBytes("UTF-8")
    assert(Multimodal.stubDecode(b).toSeq === Multimodal.stubDecode(b).toSeq)
  }

  test("image decode reads REAL pixels: known PNGs give exact luminance histograms") {
    // all-black 16x16: every pixel lum 0 -> bin 0
    val black = Multimodal.imageDecode(png(16, 16)((_, _) => 0x000000)).get
    assert(black(0) === 1.0f && black.drop(1).forall(_ === 0.0f), black.toSeq)
    // left half black, right half white (lum 255 -> bin 15)
    val split = Multimodal.imageDecode(
      png(16, 16)((x, _) => if (x < 8) 0x000000 else 0xFFFFFF)).get
    assert(split(0) === 0.5f && split(15) === 0.5f, split.toSeq)
    // mid-gray 0x808080: lum 128 -> bin 8
    val gray = Multimodal.imageDecode(png(4, 4)((_, _) => 0x808080)).get
    assert(gray(8) === 1.0f, gray.toSeq)
    // non-image bytes: no reader claims them
    assert(Multimodal.imageDecode("not an image".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.imageDecode(null).isEmpty)
    // CORRUPT image (valid PNG magic, truncated body): a reader claims
    // it and fails mid-decode — must fall back, not kill the task
    val truncated = png(16, 16)((_, _) => 0x123456).take(30)
    assert(Multimodal.imageDecode(truncated).isEmpty)
    assert(Multimodal.decode(truncated).toSeq ===
      Multimodal.stubDecode(truncated).toSeq)
  }

  test("extraction dispatches per payload: PNG rows decode real pixels, text rows fall back") {
    val rows = Seq(
      (1L, png(8, 8)((_, _) => 0xFFFFFF)),          // real image -> bin 15
      (2L, "plain text payload".getBytes("UTF-8"))  // stub fallback
    ).toDF("media_id", "payload")
    val got = Multimodal.extractFeatures(rows).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(got(1L)(15) === 1.0f, s"white PNG must land in the top bin: ${got(1L)}")
    assert(got(2L) ===
      Multimodal.stubDecode("plain text payload".getBytes("UTF-8")).toSeq)
  }

  /** Encode `samples` (signed 16-bit PCM, mono, 8 kHz) as real WAV bytes. */
  private def wav(samples: Array[Short]): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val bytes = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      bytes(2 * i) = (samples(i) & 0xFF).toByte
      bytes(2 * i + 1) = ((samples(i) >> 8) & 0xFF).toByte
      i += 1
    }
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val in = new AudioInputStream(
      new java.io.ByteArrayInputStream(bytes), fmt, samples.length.toLong)
    val out = new java.io.ByteArrayOutputStream()
    AudioSystem.write(in, AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  test("audio decode reads REAL samples: known WAVs give exact amplitude histograms") {
    // silence: every sample magnitude 0 -> bin 0
    val silence = Multimodal.audioDecode(wav(Array.fill[Short](800)(0))).get
    assert(silence(0) === 1.0f && silence.drop(1).forall(_ === 0.0f), silence.toSeq)
    // half silence, half full-scale (32767 -> bin 15)
    val loud = Multimodal.audioDecode(
      wav(Array.fill[Short](400)(0) ++ Array.fill[Short](400)(32767))).get
    assert(loud(0) === 0.5f && loud(15) === 0.5f, loud.toSeq)
    // mid-scale alternating sign: |±16384| -> bin (16384*16)/32768 = 8
    val mid = Multimodal.audioDecode(
      wav(Array.tabulate[Short](800)(i => if (i % 2 == 0) 16384 else -16384))).get
    assert(mid(8) === 1.0f, mid.toSeq)
    // Short.MinValue must clamp into the top bin, not crash on abs overflow
    val minv = Multimodal.audioDecode(wav(Array.fill[Short](16)(Short.MinValue))).get
    assert(minv(15) === 1.0f, minv.toSeq)
    // non-audio bytes: no reader claims them
    assert(Multimodal.audioDecode("not audio".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.audioDecode(null).isEmpty)
    // CORRUPT wav (truncated): the JDK either decodes the samples that
    // survived or rejects the header — both must keep the fixed-length
    // normalized contract, neither may kill the task
    for (cut <- Seq(20, 50)) {
      val t = Multimodal.decode(wav(Array.fill[Short](800)(1234)).take(cut))
      assert(t.length === 16 && math.abs(t.sum - 1.0f) < 1e-3, t.toSeq)
    }
  }

  test("extraction dispatches audio: WAV rows decode real samples, not the byte stub") {
    val w = wav(Array.fill[Short](400)(32767))
    val rows = Seq((1L, w)).toDF("media_id", "payload")
    val got = Multimodal.extractFeatures(rows).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(got(1L)(15) === 1.0f, s"full-scale WAV must land in the top bin: ${got(1L)}")
    assert(got(1L) !== Multimodal.stubDecode(w).toSeq)
  }

  test("frame sampling splits payload into n frames that reassemble") {
    val frames = Multimodal.sampleFrames(media.limit(5), 4)
    assert(frames.count() === 20)
    val back = frames.groupBy("media_id")
      .agg(array_sort(collect_list(struct(col("frame_idx"), col("frame_payload")))).as("fs"))
      .select(col("media_id"),
        concat((0 until 4).map(i => col("fs").getItem(i).getField("frame_payload")): _*).as("whole"))
    val orig = media.limit(5).select(col("media_id"), col("payload"))
    val joined = back.join(orig, "media_id")
      .filter(col("whole") === col("payload"))
    assert(joined.count() === 5, "concatenated frames must equal the original payload")
  }

  test("dHash64: identical payloads collide, one byte edit flips <= 2 bits") {
    val base = ("the quick brown fox jumps over the lazy dog " * 8).getBytes("UTF-8")
    val a = Multimodal.dHash64(base)
    assert(a === Multimodal.dHash64(base.clone()))
    // a single byte change perturbs ONE cell sum, flipping at most its
    // two adjacent gradient comparisons
    val edited = base.clone(); edited(100) = 'X'.toByte
    val d = java.lang.Long.bitCount(a ^ Multimodal.dHash64(edited))
    assert(d <= 2, s"single-byte edit moved $d bits")
    // a different payload should be far
    val other = ("completely different content about query engines " * 8)
      .getBytes("UTF-8")
    assert(java.lang.Long.bitCount(a ^ Multimodal.dHash64(other)) > 4)
    assert(Multimodal.dHash64(Array.emptyByteArray) === 0L)
    assert(Multimodal.dHash64(null) === 0L)
  }

  test("perceptualNearDup equals brute force over signatures on the fixture") {
    val media = Multimodal.fromDocuments(Tables.documents(spark, sf0001))
    val got = Multimodal.perceptualNearDup(media, maxHamming = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sigs = Multimodal.perceptualHashes(media).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val want = (for {
      i <- sigs.indices; j <- (i + 1) until sigs.length
      h = java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2)
      if h <= 4
    } yield (sigs(i)._1, sigs(j)._1, h.toLong)).toSet
    assert(got === want,
      s"missed ${want.diff(got).take(5)}, extra ${got.diff(want).take(5)}")
    assert(want.nonEmpty, "fixture must contain at least one close pair")
    // radius 7 exercises the single-chunk fallback banding (combination
    // bands guarantee completeness only to 6); same brute-force referee
    val got7 = Multimodal.perceptualNearDup(media, maxHamming = 7).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want7 = (for {
      i <- sigs.indices; j <- (i + 1) until sigs.length
      h = java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2)
      if h <= 7
    } yield (sigs(i)._1, sigs(j)._1, h.toLong)).toSet
    assert(got7 === want7)
    assert(want7.size > want.size, "radius 7 must add pairs on the fixture")
  }
}
