package graft.multimodal

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "hello world payload", "en", "src0", 19L),
      (2L, "another fake binary blob here", "en", "src1", 29L),
      (3L, "", "de", "src0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("fromDocuments produces the media schema with typed metadata") {
    val m = Multimodal.fromDocuments(docs)
    assert(m.schema.fieldNames.toSeq ==
      Seq("media_id", "media_type", "payload", "meta"))
    val r = m.filter(col("media_id") === 1).head()
    val meta = r.getStruct(r.fieldIndex("meta"))
    assert(meta.getAs[Long]("n_bytes") == 19L)
    assert(meta.getAs[Int]("width") == 20) // 19 % 64 + 1
  }

  test("extractFeatures appends a normalized float vector per row, deterministic") {
    val m = Multimodal.fromDocuments(docs)
    val f1 = Multimodal.extractFeatures(m, dim = 8).select("media_id", "features")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val f2 = Multimodal.extractFeatures(m, dim = 8).select("media_id", "features")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(f1 == f2) // deterministic stub
    assert(f1(1L).length == 8)
    assert(math.abs(f1(1L).sum - 1.0f) < 1e-5) // L1-normalized histogram
    assert(f1(3L).sum == 0.0f) // empty payload → zero vector
  }

  test("resize truncates payloads to w*h bytes; metadata-only query avoids payloads") {
    val m = Multimodal.fromDocuments(docs)
    val resized = Multimodal.resizeAll(m, 2, 3)
    val sizes = resized.select(col("media_id"), length(col("payload")).as("len"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(sizes(1L) == 6 && sizes(2L) == 6 && sizes(3L) == 0)
    // metadata query prunes the payload column out of the scan
    val metaOnly = m.select(col("media_id"), col("meta.n_bytes"))
    val plan = metaOnly.queryExecution.optimizedPlan.toString
    assert(!plan.contains("payload"), s"payload not pruned:\n$plan")
  }

  test("ImageCodec: PNG encode→decode round-trips dimensions, channels, and exact pixels") {
    import Multimodal.ImageCodec
    val png = ImageCodec.encodePng(13, 7, seed = 99L, alpha = false)
    assert(ImageCodec.decodeMeta(png).contains((13, 7, 3)))
    // lossless: every sampled pixel decodes to the formula value
    for ((x, y) <- Seq((0, 0), (12, 6), (5, 3)))
      assert(ImageCodec.decodePixel(png, x, y).contains(ImageCodec.pixelRgb(99L, x, y)))
    val argb = ImageCodec.encodePng(4, 4, seed = 5L, alpha = true)
    assert(ImageCodec.decodeMeta(argb).contains((4, 4, 4)))
  }

  test("ImageCodec: differenceHash8x8 matches the pixel-formula replay") {
    import Multimodal.ImageCodec
    // in-Scala twin of the mm_phash_neardup DuckDB oracle: per row,
    // bit = gray(x+1) > gray(x) over the 8×8 crop, 56 bits row-major
    def expected(seed: Long): String = {
      def gray(x: Int, y: Int): Int = {
        val rgb = ImageCodec.pixelRgb(seed, x, y)
        ((rgb >> 16) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
      }
      (for (y <- 0 until 8; x <- 0 until 7)
        yield if (gray(x + 1, y) > gray(x, y)) '1' else '0').mkString
    }
    for (seed <- Seq(0L, 1L, 7L, 123L, 250L)) {
      val png = ImageCodec.encodePng(8 + (seed % 5).toInt, 9, seed, alpha = seed % 2 == 1)
      val got = ImageCodec.differenceHash8x8(png)
      assert(got.contains(expected(seed)), s"seed=$seed got=$got")
      assert(got.get.length == 56)
    }
    assert(ImageCodec.differenceHash8x8(
      ImageCodec.encodePng(7, 9, 1L, alpha = false)).isEmpty)
    assert(ImageCodec.differenceHash8x8(Array[Byte](1, 2, 3)).isEmpty)
  }

  test("ImageCodec: averageHash8x8 matches the pixel-formula replay; dedup semantics hold") {
    import Multimodal.ImageCodec
    // independent replay of the aHash arithmetic from pixelRgb — the
    // in-Scala twin of the mm_image_phash DuckDB oracle
    def expected(seed: Long): String = {
      val gray = for (y <- 0 until 8; x <- 0 until 8) yield {
        val rgb = ImageCodec.pixelRgb(seed, x, y)
        ((rgb >> 16) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
      }
      val total = gray.sum
      gray.map(g => if (g * 64 > total) '1' else '0').mkString
    }
    for (seed <- Seq(0L, 1L, 7L, 123L)) {
      val png = ImageCodec.encodePng(8 + (seed % 5).toInt, 9, seed, alpha = seed % 2 == 1)
      assert(ImageCodec.averageHash8x8(png).contains(expected(seed)), s"seed=$seed")
    }
    // same pixels, different container size → same hash (the dedup point);
    // sub-8x8 and garbage → None. NOTE the inequality seed must WRAP a
    // channel inside the 8×8 crop (250+x crosses 256 at x=6): aHash is
    // brightness-invariant by construction, so two non-wrapping seeds
    // (e.g. 42 vs 43) produce the SAME gradient structure and hence the
    // same hash — that invariance is the near-dup property the
    // mm_image_phash groups exercise, not a bug.
    val a = ImageCodec.averageHash8x8(ImageCodec.encodePng(20, 15, 42L, alpha = false))
    val b = ImageCodec.averageHash8x8(ImageCodec.encodePng(9, 8, 42L, alpha = true))
    assert(a.isDefined && a == b)
    assert(a != ImageCodec.averageHash8x8(ImageCodec.encodePng(20, 15, 250L, alpha = false)))
    assert(ImageCodec.averageHash8x8(ImageCodec.encodePng(7, 30, 1L, alpha = false)).isEmpty)
    assert(ImageCodec.averageHash8x8(Array[Byte](1, 2, 3)).isEmpty)
  }

  test("ImageCodec: meanPoolBlocks conserves every pixel and matches the formula replay") {
    import Multimodal.ImageCodec
    for (seed <- Seq(3L, 77L)) {
      val w = 8 + (seed % 57).toInt; val h = 8 + (seed % 41).toInt
      val png = ImageCodec.encodePng(w, h, seed, alpha = seed % 2 == 1)
      val blocks = ImageCodec.meanPoolBlocks(png, 4, 4).get
      assert(blocks.length == 16)
      // conservation: block pixel counts partition the full frame
      assert(blocks.map(_._2).sum == w * h, s"seed=$seed")
      // independent replay from the pixel formulas (the in-Scala twin
      // of the mm_image_pool DuckDB oracle)
      val exp = Array.fill(16)((0L, 0))
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = ImageCodec.pixelRgb(seed, x, y)
        val gray = ((rgb >> 16) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
        val i = (y * 4 / h) * 4 + (x * 4 / w)
        exp(i) = (exp(i)._1 + gray, exp(i)._2 + 1)
      }
      assert(blocks.toSeq == exp.toSeq, s"seed=$seed")
    }
    assert(ImageCodec.meanPoolBlocks(Array[Byte](9, 9), 4, 4).isEmpty)
  }

  test("ImageCodec: IHDR byte parse agrees with the full ImageIO decode") {
    import Multimodal.ImageCodec
    for (seed <- 0L until 8L) {
      val png = ImageCodec.encodePng(8 + seed.toInt, 31 - seed.toInt, seed, alpha = seed % 2 == 0)
      assert(ImageCodec.parsePngHeader(png) == ImageCodec.decodeMeta(png))
    }
  }

  test("ImageCodec: JPEG decodes through the same path (different ImageIO plugin)") {
    import Multimodal.ImageCodec
    import java.awt.image.BufferedImage
    val img = new BufferedImage(17, 11, BufferedImage.TYPE_INT_RGB)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", out)
    val jpeg = out.toByteArray
    assert(ImageCodec.decodeMeta(jpeg).contains((17, 11, 3)))
    assert(ImageCodec.parsePngHeader(jpeg).isEmpty) // not a PNG header
  }

  test("ImageCodec: resize re-encodes to the target dimensions; corrupt bytes pass through") {
    import Multimodal.ImageCodec
    val png = ImageCodec.encodePng(16, 16, seed = 3L, alpha = false)
    val small = ImageCodec.resizeImage(png, 4, 6)
    assert(ImageCodec.decodeMeta(small).contains((4, 6, 3)))
    val junk = Array[Byte](1, 2, 3, 4)
    assert(ImageCodec.resizeImage(junk, 4, 6) sameElements junk)
    assert(ImageCodec.decodeMeta(junk).isEmpty)
    assert(ImageCodec.decodeMeta(null).isEmpty)
  }

  test("sampleFrames explodes payloads into frame rows") {
    val m = Multimodal.fromDocuments(docs)
    val frames = Multimodal.sampleFrames(m, 4)
    assert(frames.schema.fieldNames.toSeq == Seq("media_id", "frame_no", "frame"))
    val byId = frames.groupBy("media_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId(1L) == 4)
    assert(!byId.contains(3L)) // empty payload → no frames
  }

  test("WavCodec: encode -> parse round-trips every header field") {
    import Multimodal.WavCodec
    val wav = WavCodec.encodeWav(sampleRate = 16000, channels = 2, nSamples = 321, seed = 7L)
    assert(WavCodec.parseWavHeader(wav).contains((16000, 2, 16, 321L)))
    assert(WavCodec.durationMs(wav).contains(321L * 1000 / 16000))
    // byte-level sanity: RIFF size field covers the whole file
    assert(wav.length == 44 + 321 * 2 * 2)
  }

  test("WavCodec: readSamples returns the encoder's LCG stream; malformed input is None") {
    import Multimodal.WavCodec
    val wav = WavCodec.encodeWav(16000, 2, 50, seed = 9L)
    // independent LCG replay — the in-Scala twin of the mm_audio_samples oracle
    var x = 9L
    val expect = Array.fill(8) { x = x * 6364136223846793005L + 1442695040888963407L; (x >>> 48).toShort.toInt }
    assert(WavCodec.readSamples(wav, 8).get.sameElements(expect))
    // asking past the data chunk, or non-WAV bytes → None
    assert(WavCodec.readSamples(wav, 101).isEmpty)
    assert(WavCodec.readSamples(Array[Byte](1, 2, 3, 4), 1).isEmpty)
  }

  test("WavCodec: chunk walker survives extra chunks before fmt/data") {
    import Multimodal.WavCodec
    import java.nio.{ByteBuffer, ByteOrder}
    val base = WavCodec.encodeWav(8000, 1, 10, seed = 1L)
    // splice a LIST chunk (odd length -> exercises even-padding rule)
    val extra = ByteBuffer.allocate(8 + 6).order(ByteOrder.LITTLE_ENDIAN)
    extra.put("LIST".getBytes("US-ASCII")); extra.putInt(5)
    extra.put(Array[Byte](1, 2, 3, 4, 5, 0)) // 5 bytes + pad
    val spliced = base.take(12) ++ extra.array() ++ base.drop(12)
    assert(WavCodec.parseWavHeader(spliced).contains((8000, 1, 16, 10L)))
  }

  test("WavCodec: a chunk length past the end of the payload ends the walk") {
    import Multimodal.WavCodec
    import java.nio.{ByteBuffer, ByteOrder}
    val base = WavCodec.encodeWav(8000, 1, 10, seed = 1L)
    // a junk chunk between fmt (bytes 12..35) and data whose u32 length
    // would wrap an Int step to zero, to a small negative or to Int.MinValue
    for (len <- Seq(0xFFFFFFF8, 0xFFFFFFF0, 0x80000000)) {
      val junk = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      junk.put("junk".getBytes("US-ASCII")); junk.putInt(len)
      val spliced = base.take(36) ++ junk.array() ++ base.drop(36)
      assert(WavCodec.parseWavHeader(spliced).isEmpty)
      assert(WavCodec.readSamples(spliced, 1).isEmpty)
    }
  }

  test("WavCodec: corrupt and truncated payloads parse to None, not failures") {
    import Multimodal.WavCodec
    assert(WavCodec.parseWavHeader(null).isEmpty)
    assert(WavCodec.parseWavHeader(Array[Byte](1, 2, 3)).isEmpty)
    assert(WavCodec.parseWavHeader("RIFFxxxxJUNK".getBytes("US-ASCII")).isEmpty)
    val wav = WavCodec.encodeWav(8000, 1, 10, seed = 1L)
    wav(0) = 'X'.toByte // break the magic
    assert(WavCodec.parseWavHeader(wav).isEmpty)
  }
}
