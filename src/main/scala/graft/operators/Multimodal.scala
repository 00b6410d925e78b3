package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * payloads with typed metadata, batch-shaped feature extraction.
  *
  * The IMAGE decode path is REAL: [[imageDecode]] goes through the JDK's
  * own `javax.imageio` (PNG/JPEG/BMP/GIF — no external codec library
  * needed) and emits a luminance histogram from actual decoded pixels;
  * `MultimodalSpec` proves it on synthesized PNGs. The AUDIO decode path
  * is REAL too: [[audioDecode]] goes through `javax.sound.sampled`
  * (WAV/AU/AIFF PCM — also JDK-built-in) and emits an amplitude
  * histogram from actual decoded samples, proven on synthesized WAVs.
  * COMPRESSED-VIDEO containers get real codec-free STRUCTURAL parsing
  * in [[VideoContainer]] (ISO-BMFF box walk to the sample table:
  * keyframe enumeration, timestamps, exact mdat byte ranges) — only
  * the pixel decode of a located access unit needs codecs the JDK
  * does not ship, and that boundary is documented there. Payloads no
  * JDK codec claims (the fixture's text stand-ins) fall back to the
  * clearly-marked byte-histogram stub [[stubDecode]] — same
  * fixed-length feature contract either way.
  *
  * Scale notes: payloads stay opaque binary end-to-end (never collected,
  * never stringified); feature extraction is `mapPartitions` so decoder
  * init amortizes per PARTITION, not per row — the same batch shape a
  * vectorized (Arrow-batched) UDF gives.
  */
object Multimodal {

  // payloads are already in memory: ImageIO's default behavior would
  // otherwise spool every decode through a create/write/delete temp-FILE
  // cycle (FileCacheImageInputStream) — per-row disk I/O in the
  // mapPartitions hot loop
  javax.imageio.ImageIO.setUseCache(false)

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("payload", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("mime", StringType),
      StructField("n_bytes", IntegerType),
      StructField("width", IntegerType),
      StructField("height", IntegerType))))))

  /** Build a media table from `documents`: payload = utf-8 bytes standing
    * in for an encoded image; metadata carries mime + dimensions.
    */
  def fromDocuments(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id").as("media_id"),
      col("text").cast("binary").as("payload"),
      struct(
        lit("image/stub").as("mime"),
        length(col("text")).as("n_bytes"),
        (pmod(col("doc_id"), lit(640)) + 32).cast("int").as("width"),
        (pmod(col("doc_id"), lit(480)) + 32).cast("int").as("height")).as("meta"))

  /** REAL image decode via the JDK's `javax.imageio` (format-sniffing,
    * PNG/JPEG/BMP/GIF): bytes → pixels → 16-bin LUMINANCE histogram
    * (Rec.601 integer weights), normalized by pixel count — the same
    * fixed-length feature contract as [[stubDecode]]. Returns None when
    * no registered reader claims the bytes (non-image payloads), which
    * is a cheap header sniff, not an exception path.
    */
  /** Magic-byte sniff for the container formats the JDK's codecs can
    * claim (r11 optimization round). `ImageIO.read` / `AudioSystem`
    * provider lookup is NOT cheap on the reject path — each call builds
    * a (temp-file-backed) stream and walks the provider registry, and
    * the registry access serializes under concurrency: with the corpus
    * spread giving 32-way parallel decode, m1's per-item probe went
    * lock-convoy (measured 1.0 → 105 core-seconds). Non-claimable
    * payloads (the fixture's text stand-ins) now short-circuit to the
    * stub without touching the codec registries; payloads WITH a known
    * magic take exactly the old path. JDK image formats all have fixed
    * magics (JPEG/PNG/GIF/BMP/TIFF; WBMP's 0x00 0x00 prefix kept as the
    * permissive catch) and JDK audio containers likewise
    * (RIFF/FORM/.snd), so no decodable payload is ever skipped.
    */
  private def hasImageMagic(p: Array[Byte]): Boolean =
    p.length >= 4 && (
      (p(0) == 0xFF.toByte && p(1) == 0xD8.toByte && p(2) == 0xFF.toByte) ||
      (p(0) == 0x89.toByte && p(1) == 'P'.toByte && p(2) == 'N'.toByte &&
        p(3) == 'G'.toByte) ||
      (p(0) == 'G'.toByte && p(1) == 'I'.toByte && p(2) == 'F'.toByte &&
        p(3) == '8'.toByte) ||
      (p(0) == 'B'.toByte && p(1) == 'M'.toByte) ||
      (p(0) == 'I'.toByte && p(1) == 'I'.toByte && p(2) == 0x2A.toByte &&
        p(3) == 0.toByte) ||
      (p(0) == 'M'.toByte && p(1) == 'M'.toByte && p(2) == 0.toByte &&
        p(3) == 0x2A.toByte) ||
      (p(0) == 0.toByte && p(1) == 0.toByte))

  private def hasAudioMagic(p: Array[Byte]): Boolean =
    p.length >= 4 && (
      (p(0) == 'R'.toByte && p(1) == 'I'.toByte && p(2) == 'F'.toByte &&
        p(3) == 'F'.toByte) ||
      (p(0) == 'F'.toByte && p(1) == 'O'.toByte && p(2) == 'R'.toByte &&
        p(3) == 'M'.toByte) ||
      (p(0) == '.'.toByte && p(1) == 's'.toByte && p(2) == 'n'.toByte &&
        p(3) == 'd'.toByte))

  def imageDecode(payload: Array[Byte]): Option[Array[Float]] = {
    if (payload == null || payload.length == 0 || !hasImageMagic(payload)) return None
    // a payload a reader CLAIMS but fails to decode (valid magic,
    // truncated body) throws IIOException mid-decode — that must be a
    // per-item fallback, not a job-killing task failure; same isolation
    // rule as the fetch source's skip path
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case scala.util.control.NonFatal(_) => null }
    if (img == null || img.getWidth == 0 || img.getHeight == 0) None
    else Some(luminanceHistogram(img))
  }

  /** 16-bin Rec.601 luminance histogram of a decoded frame, normalized
    * by pixel count — the feature kernel of [[imageDecode]].
    */
  private def luminanceHistogram(img: java.awt.image.BufferedImage): Array[Float] = {
    val hist = new Array[Float](16)
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val rgb = img.getRGB(x, y)
        val lum = (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
          (rgb & 0xFF) * 114) / 1000
        hist(lum >> 4) += 1f
        x += 1
      }
      y += 1
    }
    val n = (img.getWidth * img.getHeight).toFloat
    var b = 0
    while (b < 16) { hist(b) /= n; b += 1 }
    hist
  }

  /** REAL audio decode via the JDK's `javax.sound.sampled` (WAV/AU/AIFF
    * with PCM payloads): bytes → samples → 16-bin AMPLITUDE histogram
    * (|sample| normalized to [0,1], binned by 1/16), normalized by sample
    * count — the same fixed-length feature contract as [[imageDecode]].
    * Returns None when no registered audio reader claims the bytes
    * (a header sniff, like ImageIO's), or when the claimed encoding is
    * not integer PCM the JDK can widen to signed 16-bit.
    */
  def audioDecode(payload: Array[Byte]): Option[Array[Float]] =
    audioPcm(payload).map { samples =>
      val hist = new Array[Float](16)
      var i = 0
      while (i < samples.length) {
        // |s| / 32768 ∈ [0,1); *16 picks the bin; Short.MinValue's abs
        // overflows to itself negative, so clamp through math.min on Int
        val mag = math.min(math.abs(samples(i).toInt), 32767)
        hist((mag * 16) / 32768) += 1f
        i += 1
      }
      var b = 0
      while (b < 16) { hist(b) /= samples.length.toFloat; b += 1 }
      hist
    }

  /** Real audio decode to NORMALIZED PCM — whatever width/endianness/
    * signedness the container declares is converted to signed 16-bit
    * little-endian (channels kept interleaved), so [[audioDecode]]'s
    * histogram reads exactly one sample format. None on anything the
    * JDK's codecs don't claim or that truncates mid-body — per-item
    * isolation, never a task failure.
    */
  def audioPcm(payload: Array[Byte]): Option[Array[Short]] = {
    if (payload == null || payload.length == 0 || !hasAudioMagic(payload)) return None
    import javax.sound.sampled.{AudioFormat, AudioSystem}
    val in =
      try AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(payload))
      catch { case scala.util.control.NonFatal(_) => return None }
    try {
      val src = in.getFormat
      if (src.getSampleRate <= 0 || src.getChannels <= 0) return None
      val target = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
        src.getSampleRate, 16, src.getChannels, 2 * src.getChannels,
        src.getSampleRate, false)
      val pcm =
        try AudioSystem.getAudioInputStream(target, in)
        catch { case scala.util.control.NonFatal(_) => return None }
      val bytes =
        try pcm.readAllBytes()
        catch { case scala.util.control.NonFatal(_) => return None }
        finally pcm.close()
      val nSamples = bytes.length / 2
      if (nSamples == 0) return None
      val out = new Array[Short](nSamples)
      var i = 0
      while (i + 1 < bytes.length) {
        out(i / 2) = ((bytes(i) & 0xFF) | (bytes(i + 1) << 8)).toShort
        i += 2
      }
      Some(out)
    } finally in.close()
  }

  /** Decode dispatch: real image decode first, real audio decode second,
    * byte-histogram stub for payloads neither claims (video codecs are
    * not in the JDK; their decode remains a DECLARED stub).
    */
  def decode(payload: Array[Byte]): Array[Float] =
    imageDecode(payload)
      .orElse(audioDecode(payload))
      .getOrElse(stubDecode(payload))

  /** STUB — deterministic fallback for payloads without a JDK codec
    * (video; the fixture's text stand-ins). The contract (bytes in
    * → fixed-length float features out) and everything around it is real.
    */
  def stubDecode(payload: Array[Byte]): Array[Float] = {
    val hist = new Array[Float](16)
    if (payload != null) {
      var i = 0
      while (i < payload.length) { hist((payload(i) & 0xFF) >> 4) += 1f; i += 1 }
      val n = math.max(1, payload.length).toFloat
      var b = 0
      while (b < 16) { hist(b) /= n; b += 1 }
    }
    hist
  }

  /** Feature extraction over the media table: per-partition batch loop
    * (decoder init once per partition), emitting
    * `(media_id, features, n_bytes)`. The payload size rides along from
    * the reader — consumers that need it (e.g. to de-normalize the
    * histogram) would otherwise have to join back against the media
    * table, re-scanning the payload column.
    */
  def extractFeatures(media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("features", ArrayType(FloatType), nullable = false),
      StructField("n_bytes", IntegerType, nullable = false)))
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    media.select("media_id", "payload").mapPartitions { rows =>
      // heavier decoder/model init would happen HERE, once per partition
      rows.map { r =>
        val payload = r.getAs[Array[Byte]](1)
        Row(r.getLong(0), decode(payload).toIndexedSeq,
          if (payload == null) 0 else payload.length)
      }
    }(encoder)
  }

  /** Frame sampling for "video" payloads: slice the byte stream into n
    * equal chunks (keyframe-extraction shape for payloads the JDK has no
    * codec for), exploded one row per frame.
    */
  def sampleFrames(media: DataFrame, n: Int): DataFrame =
    media
      .select(col("media_id"), col("meta"),
        posexplode(split_part_bytes(col("payload"), n)))
      .withColumnRenamed("pos", "frame_idx")
      .withColumnRenamed("col", "frame_payload")

  /** Split a binary column into n contiguous chunks (codegen-friendly
    * substring arithmetic — binary `substr` is a builtin).
    */
  private def split_part_bytes(payload: org.apache.spark.sql.Column, n: Int) = {
    val len = length(payload)
    // Column `/` is double division — floor to keep chunk boundaries
    // integral (a fractional substr start silently misaligns chunks).
    def bound(i: Int) = floor(len * i / n).cast("int")
    array((0 until n).map { i =>
      payload.substr(bound(i) + 1, bound(i + 1) - bound(i))
    }: _*)
  }

  /** 64-bit PERCEPTUAL dHash over an opaque binary payload: downsample
    * the byte stream onto a fixed 8×9 grid (byte i lands in cell
    * ⌊i·72/n⌋, each cell an integer byte-sum) and emit one bit per
    * row-adjacent comparison — bit (r,c) = cell[r][c] > cell[r][c+1].
    * This is the classic image dHash gradient scheme applied to the raw
    * encoded stream: content-position-sensitive like a real perceptual
    * hash, robust to small local edits (one changed byte moves ONE cell
    * sum slightly, flipping at most its two adjacent comparisons), and
    * pure integer arithmetic — which is what lets the DuckDB oracle
    * recompute the identical signature from the hex expansion. On real
    * decoded images the same grid would be fed by luminance means
    * ([[imageDecode]]'s pipeline); byte-domain feeding is the declared
    * codec-free stand-in, consistent with [[stubDecode]].
    */
  def dHash64(payload: Array[Byte]): Long = {
    if (payload == null || payload.isEmpty) return 0L
    val n = payload.length
    val cs = new Array[Long](72)
    var i = 0
    while (i < n) {
      cs((i.toLong * 72 / n).toInt) += (payload(i) & 0xFF).toLong
      i += 1
    }
    var sig = 0L
    var k = 0
    while (k < 64) {
      val r = k / 8
      val c = k % 8
      if (cs(r * 9 + c) > cs(r * 9 + c + 1)) sig |= (1L << k)
      k += 1
    }
    sig
  }

  /** (media_id, sig): [[dHash64]] per payload — per-partition batch loop
    * like [[extractFeatures]].
    */
  def perceptualHashes(media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("sig", LongType, nullable = false)))
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    media.select("media_id", "payload").mapPartitions { rows =>
      rows.map(r => Row(r.getLong(0), dHash64(r.getAs[Array[Byte]](1))))
    }(encoder)
  }

  /** PERCEPTUAL NEAR-DUPLICATE join (m3): unordered media pairs within
    * Hamming distance `maxHamming` of each other's [[dHash64]], found
    * WITHOUT an all-pairs scan — the binary-payload sibling of the
    * SimHash text pipeline. The 64-bit signature is cut into 8
    * contiguous 8-bit chunks; for `maxHamming` ≤ 6 candidates come from
    * TWO-CHUNK COMBINATION bands: ≤ 6 differing bits touch ≤ 6 chunks,
    * so ≥ 2 chunks are untouched and some PAIR of equal chunks collides — the C(8,2)=28
    * double-width (16-bit) keys are a complete candidate generator with
    * a 2⁸× deeper key space than single chunks (candidate noise floor
    * 28·n²/2¹⁷ vs 8·n²/2⁹ — the r10 banding lesson: a FIXED key space
    * is a quadratic noise floor, so make the keys as wide as the recall
    * bound allows). `maxHamming` = 7 falls back to single-chunk bands
    * (pigeonhole needs only one untouched chunk there). Verification is
    * one codegen'd `bit_count(xor)` per candidate; signatures travel as
    * single longs, so join state is 16 bytes per media per band. The
    * candidate stage is the SAME verified output under either banding —
    * both are complete for the radius — so the brute-force oracle is
    * unchanged. Honest 100 TB note: any banding of a fixed 64-bit
    * signature has a bounded key space; at extreme corpus sizes the
    * real lever is a longer signature (e.g. a 256-bit perceptual hash),
    * which this combination scheme generalizes to directly.
    */
  def perceptualNearDup(media: DataFrame, maxHamming: Int = 4): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 7,
      s"8-band pigeonhole guarantees recall only for maxHamming <= 7, got $maxHamming")
    val sigs = perceptualHashes(media)
    def chunk(i: Int) =
      shiftrightunsigned(col("sig"), i * 8) bitwiseAND lit(0xFFL)
    val bandKeys =
      if (maxHamming <= 6)
        for (i <- 0 until 8; j <- i + 1 until 8) yield
          struct(lit(i * 8 + j).as("chunk_id"),
            (shiftleft(chunk(i), 8) bitwiseOR chunk(j)).as("chunk_val"))
      else
        for (i <- 0 until 8) yield
          struct(lit(i).as("chunk_id"), chunk(i).as("chunk_val"))
    val chunks = sigs.select(col("media_id"), col("sig"),
      explode(array(bandKeys: _*)).as("c"))
      .select(col("media_id"), col("sig"),
        col("c.chunk_id").as("chunk_id"), col("c.chunk_val").as("chunk_val"))
    chunks.as("a").join(chunks.as("b"),
        col("a.chunk_id") === col("b.chunk_id") &&
          col("a.chunk_val") === col("b.chunk_val") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("media_a"), col("b.media_id").as("media_b"),
        expr("bit_count(a.sig ^ b.sig)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy("media_a", "media_b")
  }
}
