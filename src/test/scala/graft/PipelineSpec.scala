package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.{Multimodal, TextAnalysis}

/** Text analysis + multimodal plumbing specs. */
class PipelineSpec extends SparkSpec {

  private def one(c: org.apache.spark.sql.Column, text: String): Row =
    spark.createDataFrame(Seq(Tuple1(text))).toDF("t").select(c).collect()(0)

  test("token counts: whitespace vs BPE-ish vs estimate") {
    assert(one(TextAnalysis.tokenCountWs(col("t")), "hello world  foo").getInt(0) == 3)
    // "don't stop" → [don]['][t][stop] = 4 BPE-ish segments
    assert(one(TextAnalysis.tokenCountBpe(col("t")), "don't stop").getInt(0) == 4)
    assert(one(TextAnalysis.tokenEstimate(col("t")), "abcdefgh").getLong(0) == 2L)
  }

  test("quality score ∈ [0,1]; clean prose beats punctuation soup") {
    val clean = one(TextAnalysis.qualityScore(col("t")),
      "the quick brown fox jumps over the lazy dog and it was a good day for running in the sun with friends")
      .getDouble(0)
    val soup = one(TextAnalysis.qualityScore(col("t")), "!!!???;;;:::,,,...###").getDouble(0)
    assert(clean > soup)
    assert(clean <= 1.0 && soup >= 0.0)
  }

  test("langId picks marker language; und when no markers") {
    assert(one(TextAnalysis.langId(col("t")), "the cat and the dog of the house").getString(0) == "en")
    assert(one(TextAnalysis.langId(col("t")), "der hund und die katze ist nicht da").getString(0) == "de")
    assert(one(TextAnalysis.langId(col("t")), "xyzzy plugh qwerty").getString(0) == "und")
  }

  test("textProfile kernel == individual Column formulations (byte-identical)") {
    // real documents + adversarial edges: empty, whitespace-only, tabs
    // (Spark trim strips 0x20 only), unicode, digits/punct runs
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("text")).limit(200).collect().map(_.getString(0)).toSeq ++ Seq(
      "", "   ", "\t\tder hund\t", "don't stop!!! 123 foo-bar",
      "das über café 北京 42", "a  b c", "the the THE tHe")
    val df = spark.createDataFrame(docs.map(Tuple1(_))).toDF("t")
    val p = df.select(col("t"), TextAnalysis.textProfile(col("t")).as("p"))
    val mism = p.select(
        (TextAnalysis.bpeFromProfile(col("p")) === TextAnalysis.tokenCountBpe(col("t"))).as("a"),
        (TextAnalysis.tokenEstimateFromProfile(col("p")) === TextAnalysis.tokenEstimate(col("t"))).as("b"),
        (TextAnalysis.qualityFromProfile(col("p")) === TextAnalysis.qualityScore(col("t"))).as("c"),
        (TextAnalysis.langFromProfile(col("p")) === TextAnalysis.langId(col("t"))).as("d"),
        (col("p.len") === length(col("t"))).as("e"))
      .where(!col("a") || !col("b") || !col("c") || !col("d") || !col("e"))
    assert(mism.isEmpty, mism.collect().mkString("; "))
  }

  test("rollingFingerprint: deterministic, whitespace-insensitive, content-sensitive") {
    val a = one(TextAnalysis.rollingFingerprint(col("t")), "Hello   World").getLong(0)
    val b = one(TextAnalysis.rollingFingerprint(col("t")), "hello world").getLong(0)
    val c = one(TextAnalysis.rollingFingerprint(col("t")), "hello worlD x").getLong(0)
    assert(a == b) // normalization collapses case+whitespace
    assert(a != c)
  }

  private lazy val media = {
    val schema = StructType(Seq(
      StructField("media_id", LongType), StructField("content", BinaryType)))
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, "hello world".getBytes), Row(2L, Array[Byte]()), Row(3L, null)), 2), schema)
  }

  test("contentStats: byte length + sha1, null-safe") {
    val rows = Multimodal.contentStats(media).orderBy("media_id").collect()
    assert(rows(0).getAs[Long]("content_len") == 11L)
    assert(rows(1).getAs[Long]("content_len") == 0L)
    assert(rows(2).getAs[Long]("content_len") == 0L)
    assert(rows(0).getAs[String]("content_sha1").length == 40)
  }

  test("decodeImages: mapPartitions plumbing yields dims + feature vector") {
    val rows = Multimodal.decodeImages(media).orderBy("media_id").collect()
    assert(rows.length == 3)
    val r1 = rows(0)
    assert(r1.getInt(1) == ("h".head.toInt % 64) + 1)
    assert(r1.getSeq[Float](3).length == 8)
    assert(math.abs(r1.getSeq[Float](3).sum - 1.0f) < 1e-5) // histogram normalized
    assert(rows(2).getInt(1) == 0) // null content → 0×0
  }

  test("real PNG decode via javax.imageio: true dims, resize round-trips, fallback intact") {
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until w).foreach(x => (0 until h).foreach(y =>
        img.setRGB(x, y, (x * 37 + y * 101) & 0xFFFFFF)))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val schema = StructType(Seq(
      StructField("media_id", LongType), StructField("content", BinaryType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, png(17, 9)), Row(2L, "not an image".getBytes))), schema)
    val decoded = Multimodal.decodeImages(df).orderBy("media_id").collect()
    assert(decoded(0).getInt(1) == 17 && decoded(0).getInt(2) == 9) // real dims
    assert(math.abs(decoded(0).getSeq[Float](3).sum - 1.0f) < 1e-4) // real histogram
    // non-image bytes keep the deterministic stub path
    assert(decoded(1).getInt(1) == ("n".head.toInt % 64) + 1)
    // resize: output is a REAL 8x6 PNG (decode it back to prove it)
    val resized = Multimodal.resizeImages(df, 8, 6).orderBy("media_id").collect()
    val back = Multimodal.ImageIoCodec.decode(resized(0).getAs[Array[Byte]](1))
    assert(back.exists(i => i.getWidth == 8 && i.getHeight == 6))
  }

  test("resize + frame sampling shapes") {
    val resized = Multimodal.resizeImages(media, 2, 3).orderBy("media_id").collect()
    assert(resized(0).getAs[Array[Byte]](1).length == 6) // min(len, w*h)
    val frames = Multimodal.sampleFrames(media, 4).collect()
    assert(frames.count(_.getLong(0) == 1L) == 3) // 11 bytes / 4 → 3 frames
    assert(frames.forall(_.getInt(1) >= 0))
  }

  test("real animated-GIF frame sampling: composed frames, source indices, PNG output") {
    // build a 6-frame animated GIF in memory (each frame a solid color)
    val colors = Seq(0xFF0000, 0x00FF00, 0x0000FF, 0xFFFF00, 0x00FFFF, 0xFF00FF)
    def solid(rgb: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(20, 10,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(rgb)); g.fillRect(0, 0, 20, 10); g.dispose()
      img
    }
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer = javax.imageio.ImageIO.getImageWritersBySuffix("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    colors.foreach(c => writer.writeToSequence(
      new javax.imageio.IIOImage(solid(c), null, null), null))
    writer.endWriteSequence(); writer.dispose(); ios.close()
    val gif = bos.toByteArray
    assert(Multimodal.GifCodec.isGif(gif))
    // direct codec: all 6 frames decode at logical-screen size
    val all = Multimodal.GifCodec.frames(gif).get
    assert(all.size == 6 && all.forall(f => f.getWidth == 20 && f.getHeight == 10))
    // Spark pass: every 2nd frame, frame_idx = SOURCE index, payload = PNG
    val schema = StructType(Seq(
      StructField("media_id", LongType), StructField("content", BinaryType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(9L, gif), Row(2L, "not a video".getBytes))), schema)
    val frames = Multimodal.sampleFrames(df, everyN = 2)
      .where(col("media_id") === 9L).orderBy("frame_idx").collect()
    assert(frames.map(_.getInt(1)).toSeq == Seq(0, 2, 4))
    frames.zip(Seq(0, 2, 4)).foreach { case (r, src) =>
      val img = Multimodal.ImageIoCodec.decode(r.getAs[Array[Byte]](2)).get
      assert(img.getWidth == 20 && img.getHeight == 10)
      // GIF palettizes: solid primaries round-trip exactly
      assert((img.getRGB(5, 5) & 0xFFFFFF) == colors(src), s"frame $src color")
    }
    // non-GIF payloads keep the deterministic stub (shape contract intact)
    val stub = Multimodal.sampleFrames(df, everyN = 4)
      .where(col("media_id") === 2L).collect()
    assert(stub.length == 3) // 11 bytes / 4 → 3 chunks
  }

  test("WavCodec: golden-byte canonical WAV decodes to exact samples") {
    // hand-written bytes, NOT encodePcm16 output — pins the decoder so an
    // encode/decode byte-order bug cannot cancel out
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    val golden: Array[Byte] =
      "RIFF".getBytes ++ le32(44) ++ "WAVE".getBytes ++
        "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(1) ++ le32(8000) ++
        le32(16000) ++ le16(2) ++ le16(16) ++
        "data".getBytes ++ le32(8) ++
        le16(1000) ++ le16(-1000 & 0xFFFF) ++ le16(32767) ++ le16(-32768 & 0xFFFF)
    assert(Multimodal.WavCodec.isWav(golden))
    val pcm = Multimodal.WavCodec.decode(golden).get
    assert(pcm.sampleRate == 8000 && pcm.channels == 1 && pcm.bitsPerSample == 16)
    assert(pcm.samples(0).toSeq ==
      Seq(1000 / 32768.0, -1000 / 32768.0, 32767 / 32768.0, -1.0))
    // stats: rms = sqrt(mean(v^2)), peak = 1.0, crossings at 3 sign flips
    val st = Multimodal.WavCodec.stats(pcm)
    assert(st.frames == 4 && st.durationMs == 0 && st.zeroCrossings == 3)
    assert(st.peak == 1.0)
    val expectRms = math.sqrt(pcm.samples(0).map(v => v * v).sum / 4)
    assert(math.abs(st.rms - expectRms) < 1e-12)
  }

  test("WavCodec: chunk walk skips unknown chunks, stereo + 8-bit decode, truncation safe") {
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    // odd-size unknown chunk BEFORE fmt: the walk must skip it with pad
    val junk = "junk".getBytes ++ le32(3) ++ Array[Byte](1, 2, 3, 0)
    val fmt8 = "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(1) ++ le32(4000) ++
      le32(4000) ++ le16(1) ++ le16(8)
    val data8 = "data".getBytes ++ le32(4) ++ Array[Byte](128.toByte, 0, 255.toByte, 128.toByte)
    val body = "WAVE".getBytes ++ junk ++ fmt8 ++ data8
    val wav8 = "RIFF".getBytes ++ le32(body.length) ++ body ++
      Array.fill[Byte](20)(0) // trailing garbage past RIFF size: ignored
    val pcm8 = Multimodal.WavCodec.decode(wav8).get
    assert(pcm8.bitsPerSample == 8 && pcm8.sampleRate == 4000)
    assert(pcm8.samples(0).toSeq == Seq(0.0, -1.0, 127 / 128.0, 0.0))
    // stereo PCM16 round-trip through the fixture encoder
    val left = Array[Short](100, -100, 100, -100)
    val right = Array[Short](2000, 2000, -2000, -2000)
    val stereo = Multimodal.WavCodec.encodePcm16(44100, Array(left, right))
    val pcm2 = Multimodal.WavCodec.decode(stereo).get
    assert(pcm2.channels == 2 && pcm2.frames == 4 && pcm2.sampleRate == 44100)
    assert(pcm2.samples(0).toSeq == left.toSeq.map(_ / 32768.0))
    assert(pcm2.samples(1).toSeq == right.toSeq.map(_ / 32768.0))
    val st2 = Multimodal.WavCodec.stats(pcm2)
    assert(st2.zeroCrossings == 3) // channel 0 alternates every sample
    val expectRms = math.sqrt((4 * math.pow(100 / 32768.0, 2) +
      4 * math.pow(2000 / 32768.0, 2)) / 8)
    assert(math.abs(st2.rms - expectRms) < 1e-12)
    // truncated data chunk: frames clamp to available bytes, no throw
    val cut = stereo.take(stereo.length - 6)
    assert(Multimodal.WavCodec.decode(cut).get.frames == 2)
    // non-PCM format code (3 = IEEE float) refuses rather than mis-decodes
    val f3 = stereo.clone(); f3(20) = 3
    assert(Multimodal.WavCodec.decode(f3).isEmpty)
    assert(Multimodal.WavCodec.decode("not audio at all - pad to length ok?".getBytes ++ new Array[Byte](20)).isEmpty)
  }

  test("WavCodec.synthesizeSquare: decoded stats equal the closed forms the oracle uses") {
    for (id <- Seq(0L, 1L, 7L, 123L, 4999L)) {
      val st = Multimodal.WavCodec.stats(
        Multimodal.WavCodec.decode(Multimodal.WavCodec.synthesizeSquare(id)).get)
      val rate = 8000 + (id % 5) * 2000
      val n = 200 + (id % 300)
      val amp = 1000 + (id % 20) * 500
      val half = 2 + (id % 10)
      assert(st.sampleRate == rate && st.channels == 1 && st.frames == n)
      assert(st.durationMs == n * 1000 / rate)
      assert(st.rms == amp / 32768.0, s"id=$id rms") // exact: all |s|=amp
      assert(st.peak == amp / 32768.0)
      assert(st.zeroCrossings == (n - 1) / half, s"id=$id zc")
    }
  }

  test("decodeAudio: WAV rows decode real stats; undecodable audio reports NULL") {
    val schema = StructType(Seq(
      StructField("media_id", LongType), StructField("content", BinaryType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, Multimodal.WavCodec.synthesizeSquare(1L)),
      Row(2L, "mp3-ish garbage payload".getBytes),
      Row(3L, null))), schema)
    val rows = Multimodal.decodeAudio(df).orderBy("media_id").collect()
    assert(rows(0).getInt(1) == 10000 && rows(0).getLong(3) == 201)
    assert(rows(0).getDouble(5) == 1500 / 32768.0)
    assert((1 to 7).forall(rows(1).isNullAt) && (1 to 7).forall(rows(2).isNullAt))
  }

  test("real MJPEG-in-AVI frame sampling: JPEG chunks decode, source indices, stub fallback") {
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def chunk(id: String, b: Array[Byte]): Array[Byte] =
      id.getBytes ++ le32(b.length) ++ b ++
        (if ((b.length & 1) == 1) Array[Byte](0) else Array.emptyByteArray)
    def list(typ: String, parts: Array[Byte]*): Array[Byte] =
      chunk("LIST", typ.getBytes ++ parts.flatten)
    val grays = Seq(16, 64, 112, 160, 208, 240)
    def jpegSolid(g: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(20, 10,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val gg = img.createGraphics()
      gg.setColor(new java.awt.Color(g, g, g)); gg.fillRect(0, 0, 20, 10); gg.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    val avi = chunk("RIFF", "AVI ".getBytes ++
      list("hdrl", chunk("avih", new Array[Byte](56))) ++
      list("movi", grays.map(g => chunk("00dc", jpegSolid(g))): _*))
    assert(Multimodal.AviMjpegCodec.isAvi(avi))
    val all = Multimodal.AviMjpegCodec.frames(avi).get
    assert(all.size == 6 && all.forall(f => f.getWidth == 20 && f.getHeight == 10))
    // Spark pass: every 3rd frame, frame_idx = SOURCE index, payload = PNG
    val schema = StructType(Seq(
      StructField("media_id", LongType), StructField("content", BinaryType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(5L, avi), Row(6L, "not a video".getBytes))), schema)
    val frames = Multimodal.sampleFrames(df, everyN = 3)
      .where(col("media_id") === 5L).orderBy("frame_idx").collect()
    assert(frames.map(_.getInt(1)).toSeq == Seq(0, 3))
    frames.zip(Seq(0, 3)).foreach { case (r, src) =>
      val img = Multimodal.ImageIoCodec.decode(r.getAs[Array[Byte]](2)).get
      assert(img.getWidth == 20 && img.getHeight == 10)
      val lum = img.getRGB(10, 5) & 0xFF
      assert(math.abs(lum - grays(src)) < 16, s"frame $src gray $lum vs ${grays(src)}")
    }
    // non-AVI payloads keep the deterministic stub (shape contract intact)
    val stub = Multimodal.sampleFrames(df, everyN = 4)
      .where(col("media_id") === 6L).collect()
    assert(stub.length == 3) // 11 bytes / 4 → 3 chunks
  }

  test("AviMjpegCodec.synthesize + frameStats: closed-form count/dims/gray survive the chain") {
    import graft.pipeline.Multimodal
    for (id <- Seq(0L, 1L, 4L, 6L, 257L)) {
      val avi = Multimodal.AviMjpegCodec.synthesize(id)
      assert(Multimodal.AviMjpegCodec.isAvi(avi))
      val frames = Multimodal.AviMjpegCodec.frames(avi).get
      assert(frames.size == 2 + (id % 5).toInt)
      assert(frames.forall(f => f.getWidth == 16 + 8 * (id % 3).toInt &&
        f.getHeight == 8 + 8 * (id % 2).toInt))
    }
    val schema = StructType(Seq(
      StructField("media_id", LongType), StructField("content", BinaryType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(3L, 9L).map(id => Row(id, Multimodal.AviMjpegCodec.synthesize(id)))), schema)
    val out = Multimodal.frameStats(Multimodal.sampleFrames(df, everyN = 2))
      .orderBy("media_id", "frame_idx").collect()
    // id=3: 5 frames → sampled 0,2,4; id=9: 6 frames → sampled 0,2,4
    assert(out.map(r => (r.getLong(0), r.getInt(1))).toSeq ==
      Seq((3L, 0), (3L, 2), (3L, 4), (9L, 0), (9L, 2), (9L, 4)))
    out.foreach { r =>
      val (id, k) = (r.getLong(0), r.getInt(1))
      assert(r.getInt(2) == 16 + 8 * (id % 3).toInt)
      assert(r.getInt(3) == 8 + 8 * (id % 2).toInt)
      val g = 32 * ((id + k) % 7) + 16
      assert(math.abs(r.getDouble(4) - g) < 16, s"id=$id k=$k luma=${r.getDouble(4)} vs $g")
    }
  }

  test("BmpCodec + PHash: dHash recovers the closed-form bits; pixel-doubling invariant") {
    import graft.pipeline.Multimodal.{BmpCodec, ImageIoCodec, PHash}
    for (id <- Seq(0L, 1L, 255L, 256L, 257L, 4242L)) {
      val img = ImageIoCodec.decode(BmpCodec.synthesize(id)).get
      assert(img.getWidth == 36 && img.getHeight == 32)
      // decoded pixel == synthesized cell value (bottom-up rows handled)
      assert((img.getRGB(0, 0) & 0xFF) == BmpCodec.cellValue(id, 0, 0))
      assert((img.getRGB(35, 31) & 0xFF) == BmpCodec.cellValue(id, 7, 8))
      val (hi, lo, hex) = PHash.dHash(img)
      val wantLo = (0 until 32).map(k => if (BmpCodec.bitOf(id, k)) 1L << k else 0L).sum
      val wantHi = (32 until 64).map(k => if (BmpCodec.bitOf(id, k)) 1L << (k - 32) else 0L).sum
      assert(hi == wantHi && lo == wantLo, s"id=$id")
      assert(hex.length == 16 && hex == (0 until 8).map { r =>
        f"${(0 until 8).map(c => if (BmpCodec.bitOf(id, r * 8 + c)) 1 << c else 0).sum}%02x"
      }.mkString)
      // a perceptual hash must survive lossless rescale: the cell=8 twin
      // (72×64, same logical image) hashes identically
      val doubled = ImageIoCodec.decode(BmpCodec.synthesize(id, cell = 8)).get
      assert(PHash.dHash(doubled) == ((hi, lo, hex)), s"id=$id doubled")
    }
    // cell=3 width 27 → row stride 81 pads to 84: the padding path decodes too
    val padded = ImageIoCodec.decode(BmpCodec.synthesize(7L, cell = 3)).get
    assert(padded.getWidth == 27 && PHash.dHash(padded)._3 == PHash.dHash(
      ImageIoCodec.decode(BmpCodec.synthesize(7L)).get)._3)
  }

  test("ImageProbe: header dims == ImageIO decode dims across formats; malformed → None") {
    import graft.pipeline.Multimodal.{BmpCodec, ImageIoCodec, ImageProbe}
    for (seed <- Seq(0L, 7L, 123L); (fmt, w, h) <- Seq(
        ("png", 17, 29), ("jpeg", 40, 23), ("gif", 31, 19))) {
      val bytes = ImageIoCodec.encodeSolid(fmt, w, h, seed)
      assert(ImageProbe.probe(bytes) == Some((fmt, w, h)), s"$fmt seed=$seed")
      // the header sniff must agree with the full decode
      assert(ImageIoCodec.imageDims(bytes) == Some((w, h)), s"$fmt decode")
    }
    val bmp = BmpCodec.synthesize(9L, cell = 5)
    assert(ImageProbe.probe(bmp) == Some(("bmp", 45, 40)))
    // top-down BMP stores a NEGATIVE height; the probe normalizes it
    val topDown = bmp.clone()
    val negH = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(-40).array()
    System.arraycopy(negH, 0, topDown, 22, 4)
    assert(ImageProbe.probe(topDown) == Some(("bmp", 45, 40)))
    // malformed: garbage, empty, truncated-before-SOF jpeg, truncated png
    assert(ImageProbe.probe("not an image".getBytes) == None)
    assert(ImageProbe.probe(Array.empty[Byte]) == None)
    assert(ImageProbe.probe(null) == None)
    val jpeg = ImageIoCodec.encodeSolid("jpeg", 40, 23, 1L)
    assert(ImageProbe.probe(jpeg.take(12)) == None) // APP0 runs past the end
    val png = ImageIoCodec.encodeSolid("png", 17, 29, 1L)
    assert(ImageProbe.probe(png.take(20)) == None) // IHDR truncated
  }

  test("normalizeUnicode: NFC recomposes combining marks; forms round-trip; idempotent") {
    import spark.implicits._
    import graft.pipeline.TextAnalysis.normalizeUnicode
    val dec = "cafe\u0301 nai\u0308ve A\u030Angstro\u0308m plain ascii"
    val pre = java.text.Normalizer.normalize(dec, java.text.Normalizer.Form.NFC)
    assert(dec != pre && dec.length == pre.length + 4)
    val df = Seq((1L, dec), (2L, pre), (3L, "just ascii"), (4L, null))
      .toDF("id", "t")
    val out = df.select(col("id"),
        normalizeUnicode(col("t")).as("nfc"),
        normalizeUnicode(col("t"), "NFD").as("nfd"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getString(1) == pre)          // decomposed → composed
    assert(out(2L).getString(1) == pre)          // already-NFC unchanged
    assert(out(1L).getString(2) == out(2L).getString(2)) // NFD agrees both ways
    assert(out(3L).getString(1) == "just ascii") // ASCII fast path
    assert(out(4L).isNullAt(1))                  // null-safe
    // canonicalization makes byte-different spellings dedup together
    val fps = df.where(col("t").isNotNull)
      .select(graft.functions.GraftFunctions.fingerprint(
        normalizeUnicode(col("t"))).as("fp"))
      .distinct().count()
    assert(fps == 2) // dec and pre collapse; ascii stays apart
    intercept[IllegalArgumentException] {
      graft.expr.NormalizeExpr(null, "NFX")
    }
  }

  test("Curate: stage flags compose (dup keeper, quality gate, mix drop, conjunction)") {
    import spark.implicits._
    import graft.pipeline.{Curate, Sampling}
    val clean = "the quick brown fox jumps over the lazy dog and runs far away home"
    val docs = Seq(
      (1L, clean, "src0"),
      (5L, clean, "src0"),        // exact dup of 1 → keeper is min id 1
      (2L, "!!!???!!!", "src0"),  // all punctuation → quality ≈ 0
      (3L, clean + " again and again with more of the common words", "srcX"))
      .toDF("doc_id", "text", "source")
    val out = Curate.curate(docs, minQuality = 0.3,
        mixFractions = Map("srcX" -> 0.0), mixDefault = 1.0)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Int]("is_keeper") == 1)
    assert(out(5L).getAs[Int]("is_keeper") == 0) // dup loses to min id
    assert(out(5L).getAs[Double]("quality") == out(1L).getAs[Double]("quality"))
    assert(out(2L).getAs[Int]("quality_ok") == 0)
    assert(out(3L).getAs[Int]("mix_keep") == 0)  // srcX rate pinned to 0
    assert(out.values.forall(_.getAs[Int]("is_near_keeper") == 1)) // off by default
    // final verdict is exactly the conjunction of the exposed flags
    out.values.foreach { r =>
      assert(r.getAs[Int]("final_keep") ==
        r.getAs[Int]("quality_ok") * r.getAs[Int]("is_keeper") *
          r.getAs[Int]("is_near_keeper") * r.getAs[Int]("mix_keep"))
    }
    // near-dedup on: the exact dup (and any band collider) loses to min id
    val near = Curate.curate(docs, minQuality = 0.3, nearDedup = true)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(near(1L).getAs[Int]("is_near_keeper") == 1)
    assert(near(5L).getAs[Int]("is_near_keeper") == 0)
    near.values.foreach { r =>
      assert(r.getAs[Int]("final_keep") ==
        r.getAs[Int]("quality_ok") * r.getAs[Int]("is_keeper") *
          r.getAs[Int]("is_near_keeper") * r.getAs[Int]("mix_keep"))
    }
    // split matches the leakage-safe assignment of the same ids
    val splits = Sampling.assignSplit(docs, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    out.foreach { case (id, r) => assert(r.getAs[String]("split") == splits(id)) }
  }

  test("imagePHash: real hash for decodable payloads, NULLs for the rest") {
    import graft.pipeline.Multimodal.{BmpCodec, PHash, ImageIoCodec}
    val schema = StructType(Seq(
      StructField("media_id", LongType), StructField("content", BinaryType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, BmpCodec.synthesize(1L)),
      Row(2L, "not an image".getBytes),
      Row(3L, null))), schema)
    val rows = Multimodal.imagePHash(df).orderBy("media_id").collect()
    val (hi, lo, hex) = PHash.dHash(ImageIoCodec.decode(BmpCodec.synthesize(1L)).get)
    assert(rows(0).getLong(1) == hi && rows(0).getLong(2) == lo &&
      rows(0).getString(3) == hex)
    assert(rows(1).isNullAt(1) && rows(1).isNullAt(3))
    assert(rows(2).isNullAt(1) && rows(2).isNullAt(3))
  }

  test("Mp4Probe: box walk (v0 + v1 mvhd, largesize, truncation); probeMedia classifies by magic") {
    // v0 (even id) and v1/64-bit (odd id) layouts both round-trip to the
    // closed forms the q98 oracle recomputes
    for (id <- Seq(0L, 1L, 7L, 4242L)) {
      val m = Multimodal.Mp4Probe.probe(Multimodal.Mp4Probe.synthesize(id)).get
      assert(m.majorBrand == "isom")
      assert(m.timescale == 600 + id % 400 && m.duration == 1200 + id % 4800)
      assert(m.durationMs == (1200 + id % 4800) * 1000 / (600 + id % 400))
      assert(m.tracks == 1 + id % 3, s"id=$id")
    }
    // 64-bit largesize box header (size==1 + 8-byte size) parses
    val base = Multimodal.Mp4Probe.synthesize(2L)
    val ftypLen = java.nio.ByteBuffer.wrap(base, 0, 4).getInt
    val moov = base.drop(ftypLen)
    val big = java.nio.ByteBuffer.allocate(16 + moov.length - 8)
    big.putInt(1).put("moov".getBytes).putLong(16L + moov.length - 8)
      .put(moov.drop(8))
    val withLarge = base.take(ftypLen) ++ big.array()
    assert(Multimodal.Mp4Probe.probe(withLarge).get.timescale == 602)
    // truncation mid-box: no throw, returns what was parsed before the cut
    assert(Multimodal.Mp4Probe.probe(base.take(ftypLen + 9)).isEmpty)
    assert(Multimodal.Mp4Probe.probe("RIFFxxxxWAVE not mp4 at all padpad".getBytes).isEmpty)
    // probeMedia: container from MAGIC (not extension), honest NULLs
    val schema = StructType(Seq(
      StructField("media_id", LongType), StructField("content", BinaryType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, Multimodal.Mp4Probe.synthesize(9L)),
      Row(2L, Multimodal.WavCodec.synthesizeSquare(9L)),
      Row(3L, "GIF89a-ish but really text".getBytes),
      Row(4L, "plain text".getBytes),
      Row(5L, Multimodal.ImageIoCodec.encodeSolid("png", 17, 29, 5L)),
      Row(6L, Multimodal.BmpCodec.synthesize(6L)))), schema)
    val rows = Multimodal.probeMedia(df).orderBy("media_id").collect()
    assert(rows(0).getString(1) == "mp4" &&
      rows(0).getLong(2) == (1200 + 9 % 4800) * 1000 / (600 + 9 % 400) &&
      rows(0).getInt(3) == 1)
    assert(rows(1).getString(1) == "wav" && rows(1).getLong(2) == 209L * 1000 / 16000)
    assert(rows(2).getString(1) == "gif" && rows(2).isNullAt(2)) // GIF magic, no duration probe
    assert(rows(3).getString(1) == "unknown" && rows(3).isNullAt(2) && rows(3).isNullAt(3))
    // stills classify through the ImageProbe header sniff, NULL duration
    assert(rows(4).getString(1) == "png" && rows(4).isNullAt(2))
    assert(rows(5).getString(1) == "bmp" && rows(5).isNullAt(2))
  }

  test("EbmlProbe: varint walk, scale/float variants, unknown-size segment, truncation") {
    // closed forms across the scale (odd) and float32 (mod 3) variants
    for (id <- Seq(0L, 1L, 3L, 8L, 4242L)) {
      val m = Multimodal.EbmlProbe.probe(Multimodal.EbmlProbe.synthesize(id)).get
      assert(m.durationMs == 5000 + id % 10000, s"id=$id")
      assert(m.tracks == 1 + id % 3, s"id=$id")
      assert(m.timecodeScaleNs == (if (id % 2 == 1) 500000L else 1000000L))
    }
    // unknown-size Segment (all size bits set): walk runs to end-of-buffer
    val known = Multimodal.EbmlProbe.synthesize(8L)
    val headerLen = 4 + 8 // EBML id + 8-byte size form, empty body
    val unknown = known.clone()
    for (i <- 0 until 8) unknown(headerLen + 4 + i) = 0xFF.toByte
    unknown(headerLen + 4) = 0x01.toByte // 0x01FF..FF = 8-byte unknown marker
    assert(Multimodal.EbmlProbe.probe(unknown).get.durationMs == 5008)
    // truncation mid-element: no throw; Duration unreached → None
    assert(Multimodal.EbmlProbe.probe(known.take(headerLen + 20)).isEmpty)
    assert(Multimodal.EbmlProbe.probe("not ebml content at all".getBytes).isEmpty)
    // probeMedia classifies by magic
    val schema = StructType(Seq(
      StructField("media_id", LongType), StructField("content", BinaryType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, Multimodal.EbmlProbe.synthesize(42L)))), schema)
    val r = Multimodal.probeMedia(df).collect()(0)
    assert(r.getString(1) == "webm" && r.getLong(2) == 5042 && r.getInt(3) == 1)
  }

  test("WavCodec.spectrum: pure tones land in their bin; two-tone centroid sits between; bands sum to 1") {
    // single tone: k periods per window → all energy in bin k
    for (id <- Seq(0L, 17L, 59L)) {
      val k = (3 + id % 60).toInt
      val pcm = Multimodal.WavCodec.decode(Multimodal.WavCodec.synthesizeSine(id)).get
      val (dom, domHz, centroid, fracs) = Multimodal.WavCodec.spectrum(pcm)
      assert(dom == k, s"id=$id")
      assert(math.abs(domHz - k * 8000.0 / 256) < 1e-9)
      assert(math.abs(centroid - k * 8000.0 / 256) < 1e-4, s"centroid leak id=$id")
      assert(math.abs(fracs.sum - 1.0) < 1e-9)
      assert(fracs(k / 16) > 0.999, "band holding the tone carries ~all energy")
    }
    // two equal tones at bins 10 and 30 → centroid at bin 20's frequency
    val n = 256
    val two = new Array[Short](n)
    for (i <- 0 until n) two(i) = math.round(
      6000 * math.sin(2 * math.Pi * 10 * i / n) +
      6000 * math.sin(2 * math.Pi * 30 * i / n)).toShort
    val pcm2 = Multimodal.WavCodec.decode(
      Multimodal.WavCodec.encodePcm16(8000, Array(two))).get
    val (_, _, c2, _) = Multimodal.WavCodec.spectrum(pcm2)
    assert(math.abs(c2 - 20 * 8000.0 / 256) < 0.5, s"two-tone centroid $c2")
    // undecodable audio → NULL spectra in the Spark pass
    val schema = StructType(Seq(
      StructField("media_id", LongType), StructField("content", BinaryType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, Multimodal.WavCodec.synthesizeSine(5L)),
      Row(2L, "not audio".getBytes))), schema)
    val rows = Multimodal.audioSpectrum(df).orderBy("media_id").collect()
    assert(rows(0).getInt(1) == 8 && rows(1).isNullAt(1) && rows(1).isNullAt(4))
  }

  test("FlacProbe + Mp3Probe: exact STREAMINFO duration; mp3 CBR estimate; probeMedia routing") {
    for (id <- Seq(0L, 1L, 3L, 777L)) {
      val m = Multimodal.FlacProbe.probe(Multimodal.FlacProbe.synthesize(id)).get
      assert(m.sampleRate == 32000 + (id % 4) * 4000, s"id=$id")
      assert(m.totalSamples == 100000 + id % 50000)
      assert(m.channels == 1 + id % 2)
      assert(m.durationMs == (100000 + id % 50000) * 1000 / (32000 + (id % 4) * 4000))
    }
    // a non-first STREAMINFO (after a padding block) is still found
    val base = Multimodal.FlacProbe.synthesize(5L)
    val padded = "fLaC".getBytes ++ Array[Byte](0x01, 0, 0, 4, 9, 9, 9, 9) ++
      base.drop(4)
    assert(Multimodal.FlacProbe.probe(padded).get.sampleRate == 36000)
    assert(Multimodal.FlacProbe.probe(base.take(20)).isEmpty) // truncated
    // mp3: MPEG-1 L3 header, 128 kbps @ 44100, 4000 payload bytes → 250 ms
    val mp3 = Array[Byte](0xFF.toByte, 0xFB.toByte, 0x90.toByte, 0x00) ++
      new Array[Byte](4000 - 4)
    assert(Multimodal.Mp3Probe.probe(mp3).contains((128, 44100, 250L)))
    // ID3v2-prefixed sync still found (syncsafe size 0 → tag is 10 bytes)
    val tagged = "ID3".getBytes ++ new Array[Byte](7) ++ mp3
    assert(Multimodal.Mp3Probe.isMp3(tagged))
    assert(!Multimodal.Mp3Probe.isMp3("no sync here at all".getBytes))
    // probeMedia routes flac exactly, mp3 as estimate with NULL tracks
    val schema = StructType(Seq(
      StructField("media_id", LongType), StructField("content", BinaryType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, Multimodal.FlacProbe.synthesize(2L)), Row(2L, mp3))), schema)
    val rows = Multimodal.probeMedia(df).orderBy("media_id").collect()
    assert(rows(0).getString(1) == "flac" &&
      rows(0).getLong(2) == 100002L * 1000 / 40000 && rows(0).getInt(3) == 1)
    assert(rows(1).getString(1) == "mp3" && rows(1).getLong(2) == 250L &&
      rows(1).isNullAt(3))
  }

  test("readMedia: binaryFile ingest to media schema, stable ids, decode composes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_media_in")
    // one real PNG + one opaque payload
    val img = new java.awt.image.BufferedImage(13, 7,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    javax.imageio.ImageIO.write(img, "png", dir.resolve("a.png").toFile)
    java.nio.file.Files.write(dir.resolve("b.bin"), "opaque-bytes".getBytes)
    val media = Multimodal.readMedia(spark, dir.toString)
    val rows = media.orderBy("path").collect()
    assert(rows.length == 2)
    val byExt = rows.map(r => r.getAs[String]("path").split('.').last -> r).toMap
    assert(byExt("png").getAs[String]("modality") == "image")
    assert(byExt("png").getAs[org.apache.spark.sql.Row]("meta").getAs[String]("mime") == "image/png")
    assert(byExt("bin").getAs[String]("modality") == "binary")
    // ids are a pure function of the path → stable across re-ingest
    val again = Multimodal.readMedia(spark, dir.toString).orderBy("path").collect()
    assert(rows.map(_.getLong(0)).toSeq == again.map(_.getLong(0)).toSeq)
    // glob filter pushes into LISTING: only the png is read at all
    assert(Multimodal.readMedia(spark, dir.toString, Some("*.png")).count() == 1)
    // composes with the real decode pass
    val dims = Multimodal.decodeImages(media.where(col("modality") === "image"))
      .select("width", "height").collect()(0)
    assert(dims.getInt(0) == 13 && dims.getInt(1) == 7)
  }

  test("stripMarkup: blocks die whole, tags -> spaces, one-pass entity decode") {
    def strip(s: String): String =
      spark.createDataFrame(Seq(Tuple1(s))).toDF("t")
        .select(TextAnalysis.stripMarkup(col("t"))).collect()(0).getString(0)
    // script/style content dies WITH the tags, case-insensitively, across lines
    assert(strip("a<SCRIPT>\nvar x = 1 < 2;\n</script>b") == "a b")
    assert(strip("x<style media=\"all\">p { a: 1 }</STYLE>y") == "x y")
    // comments (multi-line), attribute-laden tags, self-closing tags
    assert(strip("a<!-- c\nd -->b<div class='q' data-x=\"1\">c</div><br/>d") == "a b c d")
    // one-pass entity decode: &amp;lt; becomes the LITERAL &lt; (no recursion)
    assert(strip("1 &lt; 2 &amp;&amp; &quot;q&quot; &#39;s&#39;&nbsp;end &amp;lt;")
      == "1 < 2 && \"q\" 's' end &lt;")
    // plain prose passes through modulo whitespace collapse
    assert(strip("  plain   text \n unchanged ") == "plain text unchanged")
  }

  test("chunkByTokens: window boundaries, overlap, short-doc passthrough") {
    val docs = spark.createDataFrame(Seq(
      (1L, (1 to 10).map("t" + _).mkString(" ")), // 10 tokens
      (2L, "a b c"),                              // fits one window
      (3L, (1 to 9).map("w" + _).mkString(" "))   // exact multiple: 9 = 4+... check
    )).toDF("id", "text")
    val out = TextAnalysis.chunkByTokens(docs, "id", "text",
      tokensPerChunk = 4, overlap = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    // doc 1: starts 0,3,6,9 → nchunks = ceil((10-4)/3)+1 = 3 → starts 0,3,6
    val d1 = out.filter(_._1 == 1L)
    assert(d1.map(_._3).toSeq == Seq("t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10"))
    assert(d1.map(_._4).toSeq == Seq(4L, 4L, 4L))
    // doc 2: one short chunk, untouched
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0L, "a b c", 3L)))
    // doc 3: 9 tokens → ceil((9-4)/3)+1 = 3 chunks; last is short (tokens 7-9)
    val d3 = out.filter(_._1 == 3L)
    assert(d3.length == 3 && d3.last._3 == "w7 w8 w9" && d3.last._4 == 3L)
    // consecutive chunks overlap by exactly `overlap` tokens
    assert(d1(0)._3.split(" ").last == d1(1)._3.split(" ").head)
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkByTokens(docs, "id", "text", 4, overlap = 4)
    }
  }

  test("repetitionSignals: dup-word + top-bigram fractions, hand-checked") {
    val docs = spark.createDataFrame(Seq(
      (1L, "a b a b a"),       // toks 5, distinct 2; bigrams: ab ba ab ba → top 2/4
      (2L, "x y z"),           // no repeats; bigrams xy yz → top 1/2
      (3L, "w"),               // single token: no bigrams
      (4L, "go go go go")      // worst case: dup 3/4, bigram "go go" 3/3
    )).toDF("id", "text")
    val out = TextAnalysis.repetitionSignals(docs, "id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((5L, 0.6, 0.5)))
    assert(out(2L) == ((3L, 0.0, 0.5)))
    assert(out(3L) == ((1L, 0.0, 0.0)))
    assert(out(4L) == ((4L, 0.75, 1.0)))
    // topRunFrac ties: sorted runs pick the max regardless of which value
    val tie = spark.createDataFrame(Seq(Tuple1(Seq("b", "a", "b", "a"))))
      .toDF("arr").select(TextAnalysis.topRunFrac(col("arr"))).collect()(0).getDouble(0)
    assert(tie == 0.5)
  }

  test("repetitionSignals == independent Scala model on 300 random docs") {
    // seeded random corpus over a tiny vocab (forces heavy collisions) +
    // adversarial edges; the in-test model recomputes the signals the
    // explode/count way, so the sorted-run formulation must agree with a
    // second, independent implementation — beyond the hand-picked cases
    val rnd = new scala.util.Random(20260812L)
    val vocab = Vector("a", "b", "c", "ab", "xyz")
    val texts = Seq("", " ", "solo") ++ (0 until 300).map { _ =>
      Seq.fill(rnd.nextInt(40))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    // Spark's Round goes through BigDecimal.valueOf (canonical string
    // repr), not the exact binary expansion — match it or rare values
    // round differently at the 6th digit
    def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    def model(text: String): (Long, Double, Double) = {
      val toks = text.trim.split("\\s+").toSeq
      val dup = if (toks.isEmpty) 0.0
        else r6(1.0 - toks.distinct.size.toDouble / toks.size)
      val bgs = toks.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
      val top = if (bgs.isEmpty) 0.0
        else r6(bgs.groupBy(identity).values.map(_.size).max.toDouble / bgs.size)
      (toks.size.toLong, dup, top)
    }
    val docs = spark.createDataFrame(texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t)
    }).toDF("id", "text")
    val got = TextAnalysis.repetitionSignals(docs, "id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val (n, dup, top) = model(t)
      assert(got(i.toLong) == ((n, dup, top)), s"doc $i ${t.take(40)}")
    }
  }

  test("chunkByTokens == independent Scala model on random docs and window shapes") {
    val rnd = new scala.util.Random(76L)
    val shapes = Seq((4, 1), (4, 0), (7, 3), (16, 15))
    val docs = (0 until 120).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(50))("w" + rnd.nextInt(9)).mkString(" "))
    }
    val df = spark.createDataFrame(docs).toDF("id", "text")
    shapes.foreach { case (w, o) =>
      val step = w - o
      val got = TextAnalysis.chunkByTokens(df, "id", "text", w, o)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getString(2), r.getLong(3)))).toMap
      docs.foreach { case (id, text) =>
        val toks = text.trim.split("\\s+").toSeq
        val n = toks.size
        val nchunks = if (n <= w) 1 else math.ceil((n - w).toDouble / step).toInt + 1
        (0 until nchunks).foreach { c =>
          val chunk = toks.slice(c * step, c * step + w)
          assert(got((id, c.toLong)) == ((chunk.mkString(" "), chunk.size.toLong)),
            s"doc $id window ($w,$o) chunk $c")
        }
        assert(!got.contains((id, nchunks.toLong)), s"doc $id extra chunk at ($w,$o)")
      }
    }
  }

  test("packBudget == independent Scala model on random groups") {
    val rnd = new scala.util.Random(87L)
    val rows = (0 until 200).map { i =>
      (i.toLong, s"g${rnd.nextInt(5)}", Seq.fill(rnd.nextInt(20) + 1)("t").mkString(" "))
    }
    val docs = spark.createDataFrame(rows).toDF("id", "grp", "text")
    val got = TextAnalysis.packBudget(docs, "id", "grp",
        TextAnalysis.tokenCountWs(col("text")), budget = 16)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    rows.groupBy(_._2).foreach { case (_, grp) =>
      var cum = 0L
      val binsSeen = scala.collection.mutable.Map.empty[Long, Long]
      grp.sortBy(_._1).foreach { case (id, _, text) =>
        val tok = text.trim.split("\\s+").length.toLong
        val bin = cum / 16
        val pos = binsSeen.getOrElse(bin, 0L) + 1
        binsSeen(bin) = pos
        assert(got(id) == ((tok, bin, pos)), s"id $id")
        cum += tok
      }
    }
  }

  test("compressionRatio: boilerplate < prose < noise; deterministic; matches a local Deflater") {
    val boiler = "spam spam spam spam " * 50
    val prose = "the quiet river carried last autumn's leaves past the old mill, " +
      "where a miller once weighed grain for villages that no longer exist"
    val rnd = new scala.util.Random(42)
    val noise = Array.fill(400)(rnd.nextPrintableChar()).mkString
    def ratio(s: String): Double =
      one(TextAnalysis.compressionRatio(col("t")), s).getDouble(0)
    val (rb, rp, rn) = (ratio(boiler), ratio(prose), ratio(noise))
    assert(rb < rp && rp < rn, s"ordering: $rb $rp $rn")
    assert(rb < 0.1, s"50x-repeated boilerplate must crush: $rb")
    // determinism + exact agreement with a directly-driven Deflater
    assert(ratio(prose) == rp)
    val d = new java.util.zip.Deflater(6)
    d.setInput(prose.getBytes("UTF-8")); d.finish()
    val buf = new Array[Byte](8192)
    var n = 0L
    while (!d.finished()) n += d.deflate(buf)
    d.end()
    val raw = prose.getBytes("UTF-8").length
    assert(rp == math.round(n.toDouble / raw * 1e6) / 1e6)
    assert(ratio("") == 0.0)
  }

  test("piiCounts + redactPii: emails, phones, IPv4s; counts precede redaction") {
    val r = one(struct(TextAnalysis.piiCounts(col("t")).as("c"),
        TextAnalysis.redactPii(col("t")).as("red")),
      "mail a.b-c@x.co and d@e.org, call 555-123-4567 or 800.555.1234, host 192.168.0.1 done")
      .getStruct(0)
    assert(r.getStruct(0).getLong(0) == 2L) // emails
    assert(r.getStruct(0).getLong(1) == 2L) // phones (both - and . separators)
    assert(r.getStruct(0).getLong(2) == 1L) // ips
    assert(r.getString(1) ==
      "mail <EMAIL> and <EMAIL>, call <PHONE> or <PHONE>, host <IP> done")
    // email's dotted domain is consumed by the email pass, not the IP pass;
    // a dotted quad glued to a word stays (no \b match inside tokens)
    val clean = one(TextAnalysis.redactPii(col("t")), "no pii here 1.2 x9 v1.2.3")
      .getString(0)
    assert(clean == "no pii here 1.2 x9 v1.2.3")
  }

  test("packBudget: fill-then-overflow bins per group, hand-checked") {
    // group g: tokens 3,3,3 with budget 5 → cum_before 0,3,6 → bins 0,0,1
    val docs = spark.createDataFrame(Seq(
      (1L, "g", "a b c"), (2L, "g", "d e f"), (3L, "g", "g h i"),
      (4L, "h", "x y z w v u t s")  // 8 tokens alone: overflows its bin 0
    )).toDF("id", "grp", "text")
    val out = TextAnalysis.packBudget(docs, "id", "grp",
        TextAnalysis.tokenCountWs(col("text")), budget = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(1L) == (("g", 3L, 0L, 1L)))
    assert(out(2L) == (("g", 3L, 0L, 2L))) // 3+3=6 > 5: overflow stays in bin 0
    assert(out(3L) == (("g", 3L, 1L, 1L))) // next doc opens bin 1
    assert(out(4L) == (("h", 8L, 0L, 1L))) // oversize doc: alone in its bin
    intercept[IllegalArgumentException] {
      TextAnalysis.packBudget(docs, "id", "grp", lit(1), budget = 0)
    }
  }

  test("unigramLogProb: corpus-trained LM score, hand-checked") {
    // vocab: a:2 b:2 c:1, total 5 → doc1 = ln(0.4); doc2 = (ln .4 + ln .2)/2
    val docs = spark.createDataFrame(Seq((1L, "a a b"), (2L, "b c")))
      .toDF("id", "text")
    val out = graft.pipeline.CorpusStats.unigramLogProb(docs, "id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(1L) == ((3L, -0.916291)))
    assert(out(2L) == ((2L, -1.262864)))
  }

  test("vocabDrift: added/vanished/changed classification, |delta| ranking, topN cut") {
    import spark.implicits._
    val oldDocs = Seq((1L, "a a a b c")).toDF("id", "text")
    val newDocs = Seq((1L, "a b b b d")).toDF("id", "text")
    val out = graft.pipeline.CorpusStats.vocabDrift(oldDocs, newDocs, "id", "text", topN = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    // deltas: a -2, b +2, c -1 (vanished), d +1 (added)
    // order: |2| ties a<b, then |1| ties c<d -> top3 = a, b, c
    assert(out.toSeq == Seq(
      ("a", 3L, 1L, -2L, "changed"),
      ("b", 1L, 3L, 2L, "changed"),
      ("c", 1L, 0L, -1L, "vanished")))
  }

  test("scriptProfile: UAX#24 buckets, digits/space pulled out; dominantScript tiebreak") {
    import spark.implicits._
    val rows = Seq(
      (1L, "abc яя 中中中中 م 12"),  // han 4 beats latin 3
      (2L, "ab яя"),               // tie latin/cyrillic -> latin (bucket order)
      (3L, "123 456"),             // digits+space only -> und
      (4L, "한글"))                // hangul
    val out = rows.toDF("id", "t").select(col("id"),
        TextAnalysis.scriptProfile(col("t")).as("p"),
        TextAnalysis.dominantScript(col("t")).as("d"))
      .collect().map(r => r.getLong(0) -> ((r.getSeq[Int](1), r.getString(2)))).toMap
    // buckets: latin cyr han arabic hangul greek hebrew devanagari digit space other
    assert(out(1L)._1 == Seq(3, 2, 4, 1, 0, 0, 0, 0, 2, 4, 0))
    assert(out(1L)._2 == "han")
    assert(out(2L)._2 == "latin")
    assert(out(3L)._1(8) == 6 && out(3L)._1(9) == 1 && out(3L)._2 == "und")
    assert(out(4L)._2 == "hangul")
  }

  test("channelMeans: pure-channel PNG decodes to exact means; undecodable -> nulls") {
    import spark.implicits._
    val media = Seq(
      (1L, Multimodal.ImageIoCodec.encodeSolidRgb("png", 4, 4, 0xFF0000)),
      (2L, Multimodal.ImageIoCodec.encodeSolidRgb("png", 4, 4, 0x00FF00)),
      (3L, Array[Byte](1, 2, 3))).toDF("media_id", "content")
    val out = Multimodal.channelMeans(media).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert((out(1L).getDouble(1), out(1L).getDouble(2), out(1L).getDouble(3)) == ((255.0, 0.0, 0.0)))
    assert((out(2L).getDouble(1), out(2L).getDouble(2), out(2L).getDouble(3)) == ((0.0, 255.0, 0.0)))
    assert(out(3L).isNullAt(1) && out(3L).isNullAt(2) && out(3L).isNullAt(3))
  }

  test("bigramLogProb: interpolated bigram LM, hand-checked; 1-token docs drop") {
    // bigrams: doc1 → (a,b),(b,a); doc2 → (a,b) ⇒ bc={ab:2, ba:1},
    // ctx c(a·)=2, c(b·)=1; unigrams a:3 b:2 solo:1, N=6. Expected
    // per-bigram probs recomputed below with the same IEEE 1.0-0.8 mix.
    val docs = spark.createDataFrame(Seq(
      (1L, "a b a"), (2L, "a b"), (3L, "solo"))).toDF("id", "text")
    val out = graft.pipeline.CorpusStats.bigramLogProb(docs, "id", "text", lambda = 0.8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val mu = 1.0 - 0.8
    def p(c2: Long, c1: Long, cu: Long): Double =
      math.log(0.8 * c2 / c1 + mu * cu / 6.0)
    // unigrams: a:3 b:2 solo:1 → N=6
    val d1 = BigDecimal((p(2, 2, 2) + p(1, 1, 3)) / 2)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val d2 = BigDecimal(p(2, 2, 2))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L) == ((2L, d1)))
    assert(out(2L) == ((1L, d2)))
    assert(!out.contains(3L), "single-token doc must produce no bigrams")
  }

  test("collocations: hand PMI, minCount prunes hapax, rounded-score ranking") {
    // corpus "a b a b" + "c d": bigrams ab,ba,ab,cd -> N_bi=4; unigrams
    // a:2 b:2 c:1 d:1 -> N_uni=6. minCount=2 keeps only (a,b) c_xy=2:
    // pmi = ln(2*36 / (4*2*2)) = ln(4.5)
    val docs = spark.createDataFrame(Seq(
      (1L, "a b a b"), (2L, "c d"))).toDF("id", "text")
    val got = graft.pipeline.CorpusStats.collocations(docs, "id", "text",
      minCount = 2L, topK = 10).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getString(0), r.getString(1), r.getLong(2)) == (("a", "b", 2L)))
    assert(r.getDouble(3) == BigDecimal(math.log(4.5))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // minCount=1 admits the hapax pairs; (c,d) of two 1-count words
    // outscores everything (the noise PMI is notorious for)
    val all = graft.pipeline.CorpusStats.collocations(docs, "id", "text",
      minCount = 1L, topK = 10).collect()
    assert(all.head.getString(0) == "c" && all.head.getString(1) == "d")
    assert(all.map(r2 => (r2.getString(0), r2.getString(1))).toSeq ==
      Seq(("c", "d"), ("a", "b"), ("b", "a")))
  }

  test("tfidfTopTerms: tf*ln(N/df), rounded-score ranking, term tiebreak") {
    val docs = spark.createDataFrame(Seq(
      (1L, "x x y"), (2L, "y z"), (3L, "z z z"))).toDF("id", "text")
    val out = graft.pipeline.CorpusStats.tfidfTopTerms(docs, "id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(3)) ->
        ((r.getString(1), r.getDouble(2)))).toMap
    assert(out((1L, 1L)) == (("x", 2.197225))) // 2·ln3
    assert(out((1L, 2L)) == (("y", 0.405465))) // 1·ln1.5
    assert(out((2L, 1L)) == (("y", 0.405465))) // tie with z → term asc
    assert(out((2L, 2L)) == (("z", 0.405465)))
    assert(out((3L, 1L)) == (("z", 1.216395))) // 3·ln1.5
  }

  test("bm25Search: hand-checked Okapi scores, dl norm, TakeOrdered plan") {
    // corpus: N=3, dl = (4, 2, 3), avgdl = 3; query = {x}
    // df(x)=2 → idf = ln((3-2+0.5)/(2+0.5)+1) = ln(1.6)
    val docs = spark.createDataFrame(Seq(
      (1L, "x x y y"), (2L, "x z"), (3L, "z z z"))).toDF("id", "text")
    val out = graft.pipeline.CorpusStats.bm25Search(docs, "id", "text",
      terms = Seq("x"), topK = 10)
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    def bm25(tf: Double, dl: Double): Double = {
      val idf = math.log(1.6)
      val v = idf * (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / 3.0))
      math.rint(v * 1e6) / 1e6
    }
    // doc1: tf=2, dl=4 beats doc2: tf=1, dl=2; doc3 never matches
    assert(rows.toSeq == Seq(
      (1L, 1L, bm25(2, 4), 1L),
      (2L, 1L, bm25(1, 2), 2L)))
    assert(rows.head._3 > rows(1)._3)
    // bounded top-K must compile to TakeOrderedAndProject, not a full sort
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(400))
    intercept[IllegalArgumentException] {
      graft.pipeline.CorpusStats.bm25Search(docs, "id", "text", Seq.empty)
    }
  }

  test("urlFeatures: ports, userinfo, fragments, case, schemeless honesty; blocklist") {
    import graft.pipeline.TextAnalysis
    val cases = Seq(
      ("https://www.Example.COM:8443/a/b/c?x=1&y=2#frag",
        ("https", "www.example.com", "com", 3L, 2L)),
      ("http://user:pw@Host.Org/one", ("http", "host.org", "org", 1L, 0L)),
      ("https://plain.net", ("https", "plain.net", "net", 0L, 0L)),
      ("https://deep.co.uk/x", ("https", "deep.co.uk", "uk", 1L, 0L)),
      ("ftp://files.site/a?only=1", ("ftp", "files.site", "site", 1L, 1L)),
      ("not a url at all", ("", "", "", 0L, 0L)),
      ("https://tail.example/?#", ("https", "tail.example", "example", 0L, 0L)))
    val df = spark.createDataFrame(cases.map { case (u, _) => Tuple1(u) })
      .toDF("url")
      .select(col("url"), TextAnalysis.urlFeatures(col("url")).as("f"))
      .select(col("url"), col("f.scheme"), col("f.host"), col("f.tld"),
        col("f.path_depth"), col("f.n_params"))
    val got = df.collect().map(r => r.getString(0) ->
      (r.getString(1), r.getString(2), r.getString(3), r.getLong(4), r.getLong(5))).toMap
    for ((u, expect) <- cases) assert(got(u) == expect, u)
    // blocklist: tld set + host regex, independently
    val b = spark.createDataFrame(Seq(
      Tuple1("https://a.spam.xyz/x"), Tuple1("https://ads.tracker.com/x"),
      Tuple1("https://fine.org/x"))).toDF("url")
      .select(col("url"),
        TextAnalysis.urlBlocked(col("url"), Seq("xyz"), "^ads\\.").as("blk"))
      .collect().map(r => (r.getString(0), r.getBoolean(1))).toMap
    assert(b("https://a.spam.xyz/x") && b("https://ads.tracker.com/x") &&
      !b("https://fine.org/x"))
  }

  test("takeTokenBudget: hash-order prefix per stratum vs an independent reimplementation") {
    import graft.pipeline.Sampling
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rows = (1L to 20L).map(i => (i, if (i <= 10) "a" else "b", 10L * (i % 4 + 1)))
    val docs = spark.createDataFrame(rows).toDF("id", "st", "tok")
    val out = Sampling.takeTokenBudget(docs, "id", "tok", "st", budget = 60L)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    // independent reimplementation: md5-prefix order, running sum, cut
    val expect = rows.groupBy(_._2).flatMap { case (_, rs) =>
      var cum = 0L
      rs.sortBy { case (id, _, _) => (md5hex(s"budget:$id").substring(0, 8), id) }
        .flatMap { case (id, _, t) =>
          cum += t; if (cum <= 60L) Some(id -> cum) else None }
    }
    assert(out == expect)
    assert(out.nonEmpty && out.size < rows.size) // the budget actually cut
    intercept[IllegalArgumentException] {
      Sampling.takeTokenBudget(docs, "id", "tok", "st", budget = 0L)
    }
  }

  test("winnowPairs: shared >= w+k-1 substring pairs up; unrelated docs don't") {
    import graft.pipeline.Dedup
    val docs = spark.createDataFrame(Seq(
      (1L, "completely original text about the quick brown fox of the north"),
      (2L, "another unrelated document concerning liquor jugs and boxes"),
      (3L, "intro phrase then text about the quick brown fox of the north")))
      .toDF("id", "text")
    for (oracle <- Seq(true, false)) {
      val pairs = Dedup.winnowPairs(docs, "id", "text", k = 8, w = 4,
          oracleHash = oracle)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((1L, 3L)), s"oracle=$oracle got $pairs")
    }
  }

  test("epochKey: distinct reproducible permutations per epoch, both hash families") {
    import graft.pipeline.Sampling
    val docs = spark.createDataFrame((1L to 50L).map(Tuple1(_))).toDF("id")
    def order(ep: Int, oracle: Boolean): Seq[Long] = docs
      .orderBy(Sampling.epochKey(col("id"), ep, oracleHash = oracle))
      .collect().map(_.getLong(0)).toSeq
    for (oracle <- Seq(true, false)) {
      val e0a = order(0, oracle)
      assert(e0a == order(0, oracle))          // re-run reproducible
      assert(e0a != order(1, oracle))          // epochs differ
      assert(e0a.sorted == (1L to 50L))        // a permutation, not a filter
      assert(e0a != (1L to 50L))               // actually shuffled
    }
    // md5 key matches the hand formula
    val expect = java.security.MessageDigest.getInstance("MD5")
      .digest("epoch:3:7".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(docs.where(col("id") === 7)
      .select(Sampling.epochKey(col("id"), 3, oracleHash = true))
      .head.getString(0) == expect)
  }

  test("winnowFingerprints: matches an independent reimplementation; MOSS share guarantee; short docs silent") {
    import graft.pipeline.Dedup
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def winnowRef(text: String, k: Int, w: Int): Set[String] = {
      val t = text.toLowerCase
      if (t.length < k + w - 1) Set.empty
      else {
        val hs = (0 to t.length - k).map(i => md5hex(t.substring(i, i + k)))
        (0 to hs.length - w).map(i => hs.slice(i, i + w).min).toSet
      }
    }
    val texts = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, "short"), // < k+w-1 chars → nothing
      (4L, "the quick brown fox leaps over the lazy dog"))
    val docs = spark.createDataFrame(texts).toDF("id", "text")
    val out = Dedup.winnowFingerprints(docs, "id", "text", k = 8, w = 4,
        oracleHash = true)
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).map { case (id, fs) => id -> fs.map(_._2).toSet }
    for ((id, t) <- texts if t.length >= 11)
      assert(out(id) == winnowRef(t, 8, 4), s"doc $id")
    assert(!out.contains(3L))
    // guarantee: docs 1 and 4 share "over the lazy dog" (17 ≥ w+k-1=11)
    assert((out(1L) & out(4L)).nonEmpty)
    // density: winnowing keeps far fewer than all gram hashes
    val grams1 = texts.head._2.length - 7
    assert(out(1L).size < grams1)
    // production family: same row shape, same short-doc silence
    val fast = Dedup.winnowFingerprints(docs, "id", "text", k = 8, w = 4)
      .collect().map(_.getLong(0)).toSet
    assert(fast == Set(1L, 2L, 4L))
  }

  test("sharedSpanPairs: a doc shorter than spanLen emits no span keys") {
    import graft.pipeline.Dedup
    // both docs share their ENTIRE 10-char text, but neither contains a
    // 50-char span — the pair must NOT form
    val docs = spark.createDataFrame(Seq(
      (1L, "same short"), (2L, "same short"))).toDF("id", "text")
    assert(Dedup.sharedSpanPairs(docs, "id", "text", spanLen = 50).count() == 0)
    // sanity: at spanLen 10 the pair DOES form
    assert(Dedup.sharedSpanPairs(docs, "id", "text", spanLen = 10).count() == 1)
  }

  test("scoreBins: exact ntile semantics; approx path at relErr 0 agrees on distinct scores") {
    import graft.pipeline.TextAnalysis
    // 10 docs, distinct scores 1..10, 2 bins → 1-5 bin1, 6-10 bin2
    val docs = spark.createDataFrame((1L to 10L).map(i => (i, i * 10.0)))
      .toDF("id", "score")
    val exact = TextAnalysis.scoreBinsExact(docs, "id", "score", nBins = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert((1L to 5L).forall(exact(_) == 1L) && (6L to 10L).forall(exact(_) == 2L))
    // remainder to the FIRST buckets: 10 docs / 3 bins → sizes 4,3,3
    val sizes = TextAnalysis.scoreBinsExact(docs, "id", "score", nBins = 3)
      .groupBy("bin").count().collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(sizes == Map(1L -> 4L, 2L -> 3L, 3L -> 3L))
    val approx = TextAnalysis.scoreBins(docs, "id", "score", nBins = 2, relErr = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(approx == exact)
    // null score → null bin in the scale path
    val withNull = spark.createDataFrame(Seq((1L, Some(1.0)), (2L, None: Option[Double])))
      .toDF("id", "score")
    val nb = TextAnalysis.scoreBins(withNull, "id", "score", nBins = 2, relErr = 0.0)
      .collect().map(r => (r.getLong(0), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(nb(2L) == -1L)
  }

  test("temperatureMix: α-rates hand-checked; kept set matches the stratified predicate") {
    import graft.pipeline.Sampling
    val counts = Seq("big" -> 100L, "small" -> 25L, "tiny" -> 25L)
    assert(Sampling.temperatureRates(counts, alpha = 0.5).toMap ==
      Map("big" -> 0.5, "small" -> 1.0, "tiny" -> 1.0)) // (25/100)^0.5
    assert(Sampling.temperatureRates(counts, alpha = 1.0).forall(_._2 == 1.0))
    assert(Sampling.temperatureRates(counts, alpha = 0.0).toMap ==
      Map("big" -> 0.25, "small" -> 1.0, "tiny" -> 1.0)) // natural shares
    intercept[IllegalArgumentException] { Sampling.temperatureRates(counts, 1.5) }
    // end-to-end: derived rates drive the same predicate as sampleStratified
    val docs = spark.createDataFrame(
      (0L until 90L).map(i => (i, if (i < 60) "big" else "small")))
      .toDF("id", "st")
    val kept = Sampling.temperatureMix(docs, "id", "st", alpha = 0.0, salt = "t")
      .collect().map(_.getLong(0)).toSet
    val expected = Sampling.sampleStratified(docs, "id", "st",
        Map("big" -> 0.5, "small" -> 1.0), salt = "t")
      .collect().map(_.getLong(0)).toSet
    assert(kept == expected)
    assert((60L until 90L).forall(kept.contains)) // rarest stratum keeps all
    // a null stratum must not deflate real strata's rates: 5 null-stratum
    // rows (the would-be minimum) neither keep nor set cnt_min
    val withNull = spark.createDataFrame(
      (0L until 90L).map(i => (i, if (i < 60) "big" else "small")) ++
        (100L until 105L).map(i => (i, null: String)))
      .toDF("id", "st")
    val keptN = Sampling.temperatureMix(withNull, "id", "st", alpha = 0.0, salt = "t")
      .collect().map(_.getLong(0)).toSet
    assert(keptN == kept) // identical to the null-free corpus
  }

  test("hashEmbed: md5 bucket/sign hand-checked, unit norm, tf direction invariance") {
    import graft.pipeline.TextAnalysis
    val docs = spark.createDataFrame(Seq(
      (1L, "x"), (2L, "x x"), (3L, "x y z w q"))).toDF("id", "text")
    val out = TextAnalysis.hashEmbed(docs, "id", "text", dim = 16, oracleHash = true)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2)))
    assert(out.map(o => (o._1, o._2)).toSeq == Seq((1L, 1L), (2L, 2L), (3L, 5L)))
    // hand-derived bucket/sign for "x" from its md5 hex
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest("x".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val bucket = (java.lang.Long.parseLong(hex.substring(24, 32), 16) % 16).toInt
    val sign = if (java.lang.Long.parseLong(hex.substring(0, 1), 16) % 2 == 0) 1.0 else -1.0
    assert(out(0)._3(bucket) == sign)
    assert(out(0)._3.count(_ != 0.0) == 1)
    // tf scaling never changes the direction: "x" and "x x" embed identically
    assert(out(0)._3 == out(1)._3)
    // multi-token doc: unit l2 norm
    assert(math.abs(out(2)._3.map(x => x * x).sum - 1.0) < 1e-9)
    // production family: same shape/counts on the identical plan
    val fast = TextAnalysis.hashEmbed(docs, "id", "text", dim = 64)
      .orderBy("id").collect()
    assert(fast.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 1L), (2L, 2L), (3L, 5L)))
    assert(fast.forall(_.getSeq[Double](2).size == 64))
  }

  test("vocabTopK: rank/tiebreak/coverage hand-checked; top-K cut is TakeOrdered") {
    // counts: a=3 b=2 c=1, total 6 → cum 0.5, 0.833333
    val docs = spark.createDataFrame(Seq((1L, "a b a"), (2L, "b a c")))
      .toDF("id", "text")
    val out = graft.pipeline.CorpusStats.vocabTopK(docs, "id", "text", topK = 2)
    val rows = out.orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.toSeq == Seq((1L, "a", 3L, 0.5), (2L, "b", 2L, 0.833333)))
    assert(out.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
  }

  test("zipfFit: matches a hand-rolled OLS with the same rounding; ideal Zipf ≈ -1") {
    // corpus where token i appears floor(600/i) times, i = 1..30
    val words = (1 to 30).flatMap(i => Seq.fill(600 / i)(f"w$i%02d"))
    val docs = spark.createDataFrame(Seq((1L, words.mkString(" "))))
      .toDF("id", "text")
    val got = graft.pipeline.CorpusStats.zipfFit(docs, "id", "text", topN = 30).head()
    // independent reference: same 12dp rounding, exact BigDecimal moments
    val pts = (1 to 30).map { i =>
      val cnt = 600 / i
      (BigDecimal(math.log(i.toDouble)).setScale(12, BigDecimal.RoundingMode.HALF_UP),
       BigDecimal(math.log(cnt.toDouble)).setScale(12, BigDecimal.RoundingMode.HALF_UP))
    }
    val n = pts.size.toDouble
    val sx = pts.map(_._1).sum.toDouble; val sy = pts.map(_._2).sum.toDouble
    val sxx = pts.map(p => p._1 * p._1).sum.toDouble
    val sxy = pts.map(p => p._1 * p._2).sum.toDouble
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(got.getAs[Long]("n_tokens") == 30L)
    assert(got.getAs[Double]("slope") ==
      BigDecimal(slope).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(math.abs(got.getAs[Double]("slope") + 1.0) < 0.05) // Zipf ≈ −1
    assert(got.getAs[Double]("r2") > 0.99)
  }

  test("heapsFit: shingle totals exact; duplicate corpus flattens beta; " +
      "short docs contribute nothing") {
    // 200 docs mixing shared and doc-unique words → the trigram
    // vocabulary keeps growing with the corpus (fresh types every doc)
    val docs = spark.createDataFrame((1 to 200).map(i =>
      (i.toLong, (1 to 12).map(j =>
        if (j % 2 == 0) s"c$j" else s"u${i}_$j").mkString(" "))))
      .toDF("doc_id", "text")
    val got = graft.pipeline.CorpusStats.heapsFit(docs, "doc_id", "text",
      gram = 3, nBuckets = 16).head()
    // totals replayed independently: 10 trigrams per 12-token doc
    assert(got.getAs[Long]("n_tokens") == 200L * 10L)
    val allTris = (1 to 200).flatMap { i =>
      val ws = (1 to 12).map(j => if (j % 2 == 0) s"c$j" else s"u${i}_$j")
      ws.sliding(3).map(_.mkString("|"))
    }
    assert(got.getAs[Long]("vocab") == allTris.distinct.size.toLong)
    assert(got.getAs[Double]("beta") > 0.5 && got.getAs[Double]("beta") <= 1.0)
    // identical docs: vocabulary saturates in the first bucket → flat
    val dup = spark.createDataFrame((1 to 200).map(i =>
      (i.toLong, "a b c d e f"))).toDF("doc_id", "text")
    val flat = graft.pipeline.CorpusStats.heapsFit(dup, "doc_id", "text",
      gram = 3, nBuckets = 16).head()
    assert(math.abs(flat.getAs[Double]("beta")) < 0.01)
    // a 2-token doc yields no trigram — and no reversed-sequence ghosts
    val short = spark.createDataFrame(Seq((1L, "a b"), (2L, "x y z w")))
      .toDF("doc_id", "text")
    val s = graft.pipeline.CorpusStats.heapsFit(short, "doc_id", "text",
      gram = 3, nBuckets = 8).head()
    assert(s.getAs[Long]("n_tokens") == 2L && s.getAs[Long]("vocab") == 2L)
  }

  test("embeddingCentroidDrift: orthogonal halves score cos 0, identical " +
      "and scaled halves score 1, zero side is NULL") {
    val mk = (rows: Seq[(Int, Seq[Float])]) =>
      spark.createDataFrame(rows.map { case (g, v) => (g, v) })
        .toDF("label", "embedding")
    val v0 = mk(Seq((1, Seq(1f, 0f)), (2, Seq(1f, 1f)), (3, Seq(1f, 0f)),
      (4, Seq(0f, 0f))))
    val v1 = mk(Seq((1, Seq(0f, 1f)), (2, Seq(2f, 2f)), (3, Seq(1f, 0f)),
      (4, Seq(1f, 0f))))
    val got = graft.pipeline.CorpusStats
      .embeddingCentroidDrift(v0, v1, "label", "embedding")
      .orderBy("grp").collect()
    val byG = got.map(r => r.getString(0) -> r).toMap
    assert(byG("1").getAs[Double]("cos") == 0.0
      && byG("1").getAs[Double]("drift") == 1.0)
    assert(byG("2").getAs[Double]("cos") == 1.0  // scale cancels
      && byG("2").getAs[Double]("drift") == 0.0)
    assert(byG("3").getAs[Double]("cos") == 1.0)
    assert(byG("4").isNullAt(byG("4").fieldIndex("cos"))) // zero centroid
    assert(got.forall(r => r.getAs[Long]("dim") == 2L))
  }

  test("vocabOverlap: hand trigram sets, clones score 1, containment " +
      "asymmetry, single-source refusal") {
    val docs = spark.createDataFrame(Seq(
      (1L, "a b c d", "A"),   // {a|b|c, b|c|d}
      (2L, "b c d e", "B"),   // {b|c|d, c|d|e}
      (3L, "a b c d", "C")))  // clone of A
      .toDF("doc_id", "text", "source")
    val rows = graft.pipeline.CorpusStats.vocabOverlap(docs, "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val ab = rows(("A", "B"))
    assert(ab.getAs[Long]("intersection") == 1L)
    assert(ab.getAs[Double]("jaccard") ==
      BigDecimal(1.0 / 3).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(ab.getAs[Double]("containment_a") == 0.5)
    val ac = rows(("A", "C"))
    assert(ac.getAs[Double]("jaccard") == 1.0
      && ac.getAs[Double]("containment_a") == 1.0)
    intercept[IllegalArgumentException] {
      graft.pipeline.CorpusStats.vocabOverlap(
        docs.where(col("source") === "A"), "text", "source")
    }
  }

  test("embeddingEffectiveDim: isotropic uses all dims, collapse scores 1") {
    val iso = spark.createDataFrame(Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(-1f, 0f)), (3L, Seq(0f, 1f)),
      (4L, Seq(0f, -1f)))).toDF("id", "embedding")
    val r = graft.pipeline.CorpusStats.embeddingEffectiveDim(iso, "embedding")
      .head()
    assert(r.getAs[Long]("dim") == 2L)
    assert(r.getAs[Double]("effective_dim") == 2.0)
    assert(r.getAs[Double]("dim_ratio") == 1.0)
    // all variance on one axis: PR collapses to exactly 1
    val flat = spark.createDataFrame(Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(2f, 0f)), (3L, Seq(3f, 0f))))
      .toDF("id", "embedding")
    val f = graft.pipeline.CorpusStats.embeddingEffectiveDim(flat, "embedding")
      .head()
    assert(f.getAs[Double]("effective_dim") == 1.0)
    assert(f.getAs[Double]("dim_ratio") == 0.5)
  }

  test("lexicalRichness: hand TTR/hapax/Yule K; templated source spikes K") {
    val docs = spark.createDataFrame(Seq(
      (1L, "a a b c", "A"),            // a:2 b:1 c:1 → K = 10⁴·2/16
      (2L, "x x x x x x x y", "B")))   // x:7 y:1 → templated
      .toDF("doc_id", "text", "source")
    val rows = graft.pipeline.CorpusStats.lexicalRichness(docs, "text", "source")
      .orderBy("source").collect()
    val Seq(a, b) = rows.toSeq
    assert(a.getAs[Long]("n_tokens") == 4L && a.getAs[Long]("n_types") == 3L)
    assert(a.getAs[Long]("n_hapax") == 2L)
    assert(a.getAs[Double]("ttr") == 0.75)
    assert(a.getAs[Double]("hapax_ratio") == 0.666667)
    assert(a.getAs[Double]("yule_k") == 1250.0) // 10⁴·(6−4)/16
    // x:7 y:1 → Σc² = 50, K = 10⁴·42/64 = 6562.5 ≫ A's
    assert(b.getAs[Double]("yule_k") == 6562.5)
    assert(b.getAs[Double]("ttr") == 0.25)
  }

  test("logOddsTerms: replayed Monroe chain, side swap negates delta") {
    val v0 = spark.createDataFrame(Seq((1L, "a a b"))).toDF("doc_id", "text")
    val v1 = spark.createDataFrame(Seq((2L, "a b b b"))).toDF("doc_id", "text")
    val rows = graft.pipeline.CorpusStats
      .logOddsTerms(v0, v1, "doc_id", "text", priorMass = 100.0, topK = 10)
      .collect().map(r => r.getString(0) -> r).toMap
    def r12(x: Double) = BigDecimal(x)
      .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // independent replay: na=3 nb=4, alpha_w = 100*(ya+yb)/7 at 12dp
    def expect(ya: Long, yb: Long): (Double, Double, Double) = {
      val alpha = r12(100.0 * (ya + yb) / 7.0)
      val delta = r12(
        math.log((ya + alpha) / (3.0 + 100.0 - ya - alpha))
          - math.log((yb + alpha) / (4.0 + 100.0 - yb - alpha)))
      val z = r6(delta / math.sqrt(1.0 / (ya + alpha) + 1.0 / (yb + alpha)))
      (alpha, delta, z)
    }
    val (aA, dA, zA) = expect(2L, 1L)
    assert(rows("a").getAs[Double]("alpha") == aA)
    assert(rows("a").getAs[Double]("delta") == dA)
    assert(rows("a").getAs[Double]("z") == zA)
    val (_, dB, _) = expect(1L, 3L)
    assert(rows("b").getAs[Double]("delta") == dB)
    assert(dA > 0 && dB < 0) // a leans side A, b leans side B
    // swapping the sides negates delta exactly (same IEEE terms)
    val sw = graft.pipeline.CorpusStats
      .logOddsTerms(v1, v0, "doc_id", "text", 100.0, 10)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("delta")).toMap
    assert(sw("a") == -dA && sw("b") == -dB)
  }

  test("nnLabelAgreement: clustered labels agree fully, null labels excluded") {
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val ids = (1 to 400).map(_.toLong).filter(i => md5hex(i.toString).head == 'a')
    assert(ids.size >= 6) // the md5 sample is deterministic
    // two tight clusters, label == cluster → every 1-NN agrees
    val rows = ids.map { i =>
      val off = (i % 7).toFloat / 1000f
      if (i % 2 == 0) (i, Seq(1f + off, 0f), Integer.valueOf(0))
      else (i, Seq(0f, 1f + off), Integer.valueOf(1))
    }
    val df = spark.createDataFrame(rows).toDF("vec_id", "embedding", "label")
    val r = graft.pipeline.CorpusStats.nnLabelAgreement(df, "vec_id",
      "embedding", "label", hexPrefix = "a").head()
    assert(r.getAs[Long]("n_sampled") == ids.size.toLong)
    assert(r.getAs[Long]("n_scored") == ids.size.toLong)
    assert(r.getAs[Double]("agreement") == 1.0)
    // a NULL label drops out of scoring but not the sample count
    val withNull = spark.createDataFrame(
      rows.updated(0, (rows.head._1, rows.head._2, null: Integer)))
      .toDF("vec_id", "embedding", "label")
    val rn = graft.pipeline.CorpusStats.nnLabelAgreement(withNull, "vec_id",
      "embedding", "label", "a").head()
    assert(rn.getAs[Long]("n_sampled") == ids.size.toLong)
    assert(rn.getAs[Long]("n_scored") == ids.size.toLong - 1L)
  }

  test("Fusion.rrf: hand-checked two-system fusion; shared doc outranks singles") {
    val lex = spark.createDataFrame(Seq((1L, 1L), (2L, 2L), (3L, 3L)))
      .toDF("id", "rank")
    val vec = spark.createDataFrame(Seq((2L, 1L), (4L, 2L))).toDF("id", "rank")
    val got = graft.operators.Fusion.rrf(Seq("lex" -> lex, "vec" -> vec),
        "id", k0 = 60, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // doc2: r12(1/62)+r12(1/61) = 0.032522474881 → 0.032522 — ranked first
    assert(got.toSeq == Seq(
      (2L, 2L, 0.032522), (1L, 1L, 0.016393),
      (4L, 1L, 0.016129), (3L, 1L, 0.015873)))
  }

  test("readability: hand-checked Flesch/FK; no-terminator floor; empty text null") {
    val df = spark.createDataFrame(Seq(
      (1L, "The cat sat. The dog ran!"), // 2 sents, 6 words, 6 vowel runs
      (2L, "no terminator here"),        // sentence floor = 1
      (3L, "")))                         // empty → null scores
      .toDF("id", "text")
    val rows = df.select(col("id"),
        graft.pipeline.TextAnalysis.readability(col("text")).as("r"))
      .orderBy("id").collect()
    val r1 = rows(0).getStruct(1)
    assert(r1.getLong(0) == 2L && r1.getLong(1) == 6L && r1.getLong(2) == 6L)
    // 206.835 − 1.015·(6/2) − 84.6·(6/6) = 119.19
    assert(r1.getDouble(3) == 119.19)
    // 0.39·3 + 11.8·1 − 15.59 = −2.62
    assert(r1.getDouble(4) == -2.62)
    val r2 = rows(1).getStruct(1)
    assert(r2.getLong(0) == 1L && r2.getLong(1) == 3L)
    val r3 = rows(2).getStruct(1)
    assert(r3.getLong(1) == 0L && r3.isNullAt(3) && r3.isNullAt(4))
  }

  test("embeddingDiversity: sample is the md5-prefix set; identical vectors → diversity 0") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val vec = Array(1.0f, 2.0f, 2.0f)
    val rows = (0L until 200L).map(i => Row(i, vec.toSeq))
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 5), schema)
    val expectedSample = (0L until 200L).count { i =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
        .startsWith("a")
    }
    val r = graft.pipeline.CorpusStats.embeddingDiversity(df, "vec_id",
      "embedding", hexPrefix = "a").head()
    assert(r.getAs[Long]("n_sampled") == expectedSample.toLong)
    assert(r.getAs[Long]("n_pairs") ==
      expectedSample.toLong * (expectedSample - 1) / 2)
    assert(r.getAs[Double]("mean_cos") == 1.0)
    assert(r.getAs[Double]("diversity") == 0.0)
  }

  test("learnBpe: canonical Sennrich sequence with deterministic tie-breaks") {
    // low×5 lower×2 newest×6 widest×3 → es(9) est(9) est</w>(9) lo(7)
    // low(7) ew(6); the three 9-ties resolve by smallest left symbol
    val txt = ("low " * 5) + ("lower " * 2) + ("newest " * 6) + ("widest " * 3)
    val docs = spark.createDataFrame(Seq((1L, txt))).toDF("id", "text")
    val got = graft.pipeline.CorpusStats.learnBpe(docs, col("text"), 6)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1, "e", "s", 9L), (2, "es", "t", 9L), (3, "est", "</w>", 9L),
      (4, "l", "o", 7L), (5, "lo", "w", 7L), (6, "e", "w", 6L)))
    // the learned table drives the q137 apply kernel: "newest" = n e w e s t
    // merges by priority → es, est, (no </w> in raw apply), then (e,w):
    // n ew est → 3 tokens
    val merges = got.map(m => (m._2, m._3)).toSeq
    val n = docs.select(graft.functions.GraftFunctions.bpeCount(
      lit("newest"), merges).cast("long")).head().getLong(0)
    assert(n == 3L)
  }

  test("crossSourceDup: planted cross-source near-dup lands in the right cell") {
    val t = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = spark.createDataFrame(Seq(
      (1L, t, "srcA"),
      (2L, t + " extra", "srcB"), // near-dup of 1, different source
      (3L, "completely unrelated text about database engines and sharding", "srcA"),
      (4L, "another separate text mentioning streams and watermarks only", "srcB")))
      .toDF("doc_id", "text", "source")
    val got = graft.pipeline.Dedup.crossSourceDup(docs, "doc_id", "text",
        "source", threshold = 0.3)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getBoolean(2), r.getLong(3))).toSeq
    assert(got == Seq(("srcA", "srcB", false, 1L)))
  }

  test("blocklistScore: exact-token hits only (no Scunthorpe), flag at threshold") {
    val df = spark.createDataFrame(Seq(
      (1L, "bad words and bad apples"),   // 5 tokens, 2 hits → 0.4 flagged
      (2L, "badge is not a bad-word hit"),// substring/hyphen: 0 hits
      (3L, "clean text here")))
      .toDF("id", "text")
    val got = df.select(col("id"), graft.pipeline.TextAnalysis
        .blocklistScore(col("text"), Seq("bad", "evil"), 0.3).as("b"))
      .orderBy("id").collect()
    assert(got(0).getStruct(1).getLong(1) == 2L)
    assert(got(0).getStruct(1).getDouble(2) == 0.4)
    assert(got(0).getStruct(1).getBoolean(3))
    assert(got(1).getStruct(1).getLong(1) == 0L) // "badge"/"bad-word" don't hit
    assert(!got(2).getStruct(1).getBoolean(3))
  }

  test("ExifCodec: probe reads the planted fields; strip scrubs GPS, keeps pixels") {
    import graft.pipeline.Multimodal.{ExifCodec, ImageIoCodec}
    for (id <- Seq(0L, 5L, 123L)) {
      val bytes = ExifCodec.synthesizeJpegExif(id)
      val e = ExifCodec.probe(bytes).get
      assert(e.orientation.contains((id % 8 + 1).toInt))
      assert(e.dateTime.contains(f"2026:01:${id % 28 + 1}%02d 12:00:00"))
      assert(e.hasGps == (id % 3 == 0))
      val st = ExifCodec.strip(bytes)
      assert(ExifCodec.probe(st).isEmpty)
      assert(bytes.length - st.length == (if (id % 3 == 0) 98 else 68))
      // pixels survive the scrub: still a decodable JPEG of the same size
      assert(ImageIoCodec.imageDims(st).contains((8, 8)))
      // idempotent on clean input
      assert(ExifCodec.strip(st).sameElements(st))
    }
    // non-JPEG bytes: probe None, strip identity
    val junk = Array[Byte](1, 2, 3, 4)
    assert(ExifCodec.probe(junk).isEmpty && (ExifCodec.strip(junk) eq junk))
  }

  test("PngTextCodec: planted tEXt read back; strip keeps the image decodable") {
    import graft.pipeline.Multimodal.{ImageIoCodec, PngTextCodec}
    for (id <- Seq(0L, 42L, 1234L)) {
      val bytes = PngTextCodec.synthesizePngText(id)
      val kv = PngTextCodec.probe(bytes).get
      assert(kv == Seq(("Comment", s"doc$id")))
      val st = PngTextCodec.strip(bytes)
      assert(PngTextCodec.probe(st).get.isEmpty)
      assert(bytes.length - st.length == 23 + id.toString.length)
      assert(ImageIoCodec.imageDims(st).contains((8, 8)))
      assert(PngTextCodec.strip(st).sameElements(st))
    }
    val junk = Array[Byte](9, 9, 9)
    assert(PngTextCodec.probe(junk).isEmpty && (PngTextCodec.strip(junk) eq junk))
  }

  test("Id3Codec: v2+v1 read back; strip leaves a probe-clean MPEG stream") {
    import graft.pipeline.Multimodal.{Id3Codec, Mp3Probe}
    for (id <- Seq(0L, 7L, 1234L)) {
      val bytes = Id3Codec.synthesizeMp3Id3(id)
      val t = Id3Codec.probe(bytes).get
      assert(t.version == 3 && t.frameIds == Seq("TIT2"))
      assert(t.tagSize == 14 + id.toString.length)
      assert(t.hasV1 == (id % 2 == 0))
      assert(Mp3Probe.probe(bytes).exists(_._1 == 128)) // probe skips v2
      val st = Id3Codec.strip(bytes)
      assert(Id3Codec.probe(st).isEmpty)
      assert(Mp3Probe.probe(st).exists(p => p._1 == 128 && p._2 == 44100))
      val delta = 24 + id.toString.length + (if (id % 2 == 0) 128 else 0)
      assert(bytes.length - st.length == delta)
      assert(Id3Codec.strip(st).sameElements(st))
    }
    assert(Id3Codec.probe(Array[Byte](1, 2, 3)).isEmpty)
  }

  test("Id3Codec: v2.4 syncsafe frame sizes — a >=128-byte frame doesn't desync") {
    import graft.pipeline.Multimodal.Id3Codec
    // hand-built v2.4 tag: TIT2 of 200 bytes (syncsafe 0,0,1,72),
    // then TALB of 5 bytes; a plain-BE read of the TIT2 size (0x0148=328)
    // would overshoot TALB and report one frame only
    val f1 = 200; val f2 = 5
    val tagSize = 10 + f1 + 10 + f2
    val bb = java.nio.ByteBuffer.allocate(10 + tagSize + 4)
    bb.put("ID3".getBytes("US-ASCII")).put(4.toByte).put(0.toByte).put(0.toByte)
    bb.put(((tagSize >> 21) & 0x7F).toByte).put(((tagSize >> 14) & 0x7F).toByte)
      .put(((tagSize >> 7) & 0x7F).toByte).put((tagSize & 0x7F).toByte)
    bb.put("TIT2".getBytes("US-ASCII"))
    bb.put(((f1 >> 21) & 0x7F).toByte).put(((f1 >> 14) & 0x7F).toByte)
      .put(((f1 >> 7) & 0x7F).toByte).put((f1 & 0x7F).toByte)
    bb.putShort(0.toShort).put(new Array[Byte](f1))
    bb.put("TALB".getBytes("US-ASCII"))
    bb.put(0.toByte).put(0.toByte).put(0.toByte).put(f2.toByte)
    bb.putShort(0.toShort).put(new Array[Byte](f2))
    bb.put(0xFF.toByte).put(0xFB.toByte).put(0x90.toByte).put(0.toByte)
    val t = Id3Codec.probe(bb.array()).get
    assert(t.version == 4 && t.frameIds == Seq("TIT2", "TALB"), t.toString)
    // same bytes relabeled v2.3 with plain-BE sizes still walk both frames
    val v3 = bb.array().clone(); v3(3) = 3.toByte
    v3(14) = 0; v3(15) = 0; v3(16) = 0; v3(17) = f1.toByte // 200 plain BE
    assert(Id3Codec.probe(v3).get.frameIds == Seq("TIT2", "TALB"))
  }

  test("dedupLines: keep-first-instance across corpus, reassembly, all-lost doc") {
    // keepers: a→(1,0) b→(1,1) c→(2,1) d→(3,1); doc 4 loses every line
    val docs = spark.createDataFrame(Seq(
      (1L, "a\nb\na"), (2L, "b\nc"), (3L, "c\nd\nd"), (4L, "a\nb")))
      .toDF("id", "text")
    val out = graft.pipeline.Dedup.dedupLines(docs, "id", "text")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 3L, 2L, "a\nb"),
      (2L, 2L, 1L, "c"),
      (3L, 3L, 1L, "d"),
      (4L, 2L, 0L, "")))
    // scope="doc": within-doc repeats drop, cross-doc repeats survive
    val doc = graft.pipeline.Dedup.dedupLines(docs, "id", "text", scope = "doc")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    assert(doc.toSeq == Seq(
      (1L, 2L, "a\nb"),   // intra-doc "a" repeat drops
      (2L, 2L, "b\nc"),   // cross-doc repeats survive
      (3L, 2L, "c\nd"),   // intra-doc "d" repeat drops
      (4L, 2L, "a\nb")))
    intercept[IllegalArgumentException] {
      graft.pipeline.Dedup.dedupLines(docs, "id", "text", scope = "corpsu")
    }
    // custom separator: same semantics on "||"-joined lines
    val docs2 = spark.createDataFrame(Seq((1L, "x||y"), (2L, "y||z")))
      .toDF("id", "text")
    val out2 = graft.pipeline.Dedup.dedupLines(docs2, "id", "text", sep = "||")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(3)))
    assert(out2.toSeq == Seq((1L, "x||y"), (2L, "z")))
  }

  test("trimOutliers: per-group percentile band, groups judged separately") {
    // group a: 1..10 → p5=1.45, p95=9.55 → keeps 2..9; group b is all 100s
    val docs = spark.createDataFrame(
      ((1 to 10).map(i => ("a", i)) ++ Seq(("b", 100), ("b", 100), ("b", 100))))
      .toDF("g", "len")
    val kept = TextAnalysis.trimOutliers(docs, "g", "len")
      .collect().map(r => (r.getString(0), r.getInt(1)))
    assert(kept.filter(_._1 == "a").map(_._2).sorted.toSeq == (2 to 9))
    assert(kept.count(_._1 == "b") == 3) // degenerate distribution keeps all
    intercept[IllegalArgumentException] {
      TextAnalysis.trimOutliers(docs, "g", "len", lo = 0.9, hi = 0.1)
    }
  }

  test("embeddingCentroids: element-wise mean pooling, ordered dims") {
    val df = spark.createDataFrame(Seq(
      ("a", Seq(1.0f, 2.0f, 3.0f)),
      ("a", Seq(3.0f, 4.0f, 5.0f)),
      ("b", Seq(10.0f, 0.0f, 0.0f)))).toDF("g", "v")
    val out = graft.pipeline.CorpusStats.embeddingCentroids(df, col("g"), "v")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getSeq[Double](2).toSeq, r.getDouble(4)))).toMap
    assert(out("a") == ((3L, Seq(2.0, 3.0, 4.0), 9.0)))
    assert(out("b") == ((3L, Seq(10.0, 0.0, 0.0), 10.0)))
  }

  test("lengthProfile: exact interpolated percentiles, hand-checked") {
    // lens 10,20,30,40: p50 = 25 (interpolated), p90 = 37, mean = 25
    val docs = spark.createDataFrame(Seq(
      ("s", 10), ("s", 20), ("s", 30), ("s", 40)
    )).toDF("src", "len")
    val r = TextAnalysis.lengthProfile(docs, "src", "len").collect()(0)
    assert(r.getLong(1) == 4L)
    assert(r.getDouble(2) == 25.0)
    assert(r.getDouble(3) == 37.0)
    assert(r.getDouble(5) == 25.0)
  }

  test("logTemplates: uuid/hex/number masking, whitespace collapse, " +
      "deterministic top-K tie-break") {
    import spark.implicits._
    val lines = Seq(
      "GET /api/user/42 took 12.5 ms",
      "GET /api/user/977 took 3.0 ms",
      "session 550e8400-e29b-41d4-a716-446655440000 opened",
      "session 123e4567-e89b-42d3-a456-426614174000 opened",
      "cache key 0xdeadbeef evicted",
      "cache key deadbeefcafebabe01 evicted",
      "  spaced   out   line  ",
      "").toDF("line")
    val got = TextAnalysis.logTemplates(lines, col("line"), topK = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(got == Seq(
      "GET /api/user/<n> took <n> ms" -> 2L,
      "cache key <hex> evicted" -> 2L,
      "session <id> opened" -> 2L,
      "spaced out line" -> 1L))
    // top-K really bounds the output, count-desc then template-asc
    val many = (1 to 5).flatMap(i => Seq.fill(i)(s"tpl$i x ${i * 11}")).toDF("line")
    val top2 = TextAnalysis.logTemplates(many, col("line"), topK = 2)
      .collect().map(_.getString(0)).toSeq
    assert(top2 == Seq("tpl5 x <n>", "tpl4 x <n>"))
  }

  test("goodTuring: hand count-of-counts, unseen mass, boundary r*") {
    import spark.implicits._
    // a:3 b:2 c:1 → N=6, N1=N2=N3=1
    val docs = Seq((1L, "a a a b b c")).toDF("id", "text")
    val rows = graft.pipeline.CorpusStats.goodTuring(docs, "id", "text", maxR = 3)
      .collect()
    val byR = rows.map(r => r.getLong(0) -> r).toMap
    assert(byR(0L).getAs[Double]("mass") == 0.166667) // N1/N
    assert(byR(1L).getAs[Double]("r_star") == 2.0) // (1+1)·N2/N1
    assert(byR(2L).getAs[Double]("r_star") == 3.0)
    assert(byR(2L).getAs[Double]("mass") == 0.333333)
    // boundary: r = maxR still sees N_{maxR+1} (lead BEFORE the cut)
    val r2 = graft.pipeline.CorpusStats.goodTuring(docs, "id", "text", maxR = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(r2(2L).getAs[Double]("r_star") == 3.0)
  }

  test("rakeKeyphrases: hand deg/freq scores, stopword boundaries, punct strip") {
    import spark.implicits._
    // phrases: [good coffee], [good coffee beans] — deg/freq:
    // good 5/2, coffee 5/2, beans 3/1 → scores 5.0 and 8.0
    val docs = Seq((1L, "Good coffee is good coffee beans.")).toDF("id", "text")
    val rows = graft.pipeline.CorpusStats.rakeKeyphrases(docs, "id", "text",
      topK = 5).collect()
    assert(rows.map(r => (r.getString(0), r.getAs[Double]("score"))).toSeq ==
      Seq(("good coffee beans", 8.0), ("good coffee", 5.0)))
    assert(rows.head.getAs[Long]("n_words") == 3L
      && rows.head.getAs[Long]("freq") == 1L)
  }

  test("klUnigram: identical corpora read zero both ways; shift is directed") {
    import spark.implicits._
    val a = Seq((1L, "x x y z")).toDF("id", "text")
    val r = graft.pipeline.CorpusStats.klUnigram(a, a, "id", "text").head()
    assert(r.getAs[Double]("kl_pq") == 0.0 && r.getAs[Double]("kl_qp") == 0.0
      && r.getAs[Double]("jeffreys") == 0.0)
    val b = Seq((1L, "x y y z z z")).toDF("id", "text")
    val d = graft.pipeline.CorpusStats.klUnigram(a, b, "id", "text").head()
    assert(d.getAs[Long]("vocab") == 3L)
    assert(d.getAs[Double]("kl_pq") > 0.0 && d.getAs[Double]("kl_qp") > 0.0)
  }

  test("kwic: windows clamp at doc edges, ordered, bounded") {
    import spark.implicits._
    val docs = Seq((1L, "a b merge c d"), (2L, "merge x"), (3L, "no hit here"))
      .toDF("id", "text")
    val rows = graft.pipeline.CorpusStats.kwic(docs, "id", "text", "merge")
      .collect()
      .map(r => (r.getLong(0), r.getAs[Long]("pos"),
        r.getString(2), r.getString(3)))
    assert(rows.toSeq == Seq((1L, 2L, "a b", "c d"), (2L, 0L, "", "x")))
    // maxRows is a real cut
    val many = (1 to 10).map(i => (i.toLong, "merge merge merge")).toDF("id", "text")
    assert(graft.pipeline.CorpusStats.kwic(many, "id", "text", "merge",
      maxRows = 7).count() == 7)
  }

  test("embeddingTopComponent: axis-aligned and isotropic hand spectra") {
    import spark.implicits._
    // all variance on e1: cov = diag(2.5, 0) → λ₁ = 2.5, share 1
    val axis = Seq(Array(2f, 0f), Array(-2f, 0f), Array(1f, 0f), Array(-1f, 0f))
      .map(Tuple1(_)).toDF("v")
    val a = graft.pipeline.CorpusStats.embeddingTopComponent(axis, "v").head()
    assert(a.getAs[Long]("n") == 4L && a.getAs[Long]("dim") == 2L)
    assert(a.getAs[Double]("lambda1") == 2.5 && a.getAs[Double]("trace") == 2.5)
    assert(a.getAs[Double]("top_share") == 1.0)
    // perfectly isotropic: cov = diag(.5, .5) → any unit v is an
    // eigenvector, λ = 0.5, share exactly ½
    val iso = Seq(Array(1f, 0f), Array(-1f, 0f), Array(0f, 1f), Array(0f, -1f))
      .map(Tuple1(_)).toDF("v")
    val i = graft.pipeline.CorpusStats.embeddingTopComponent(iso, "v").head()
    assert(i.getAs[Double]("lambda1") == 0.5 && i.getAs[Double]("top_share") == 0.5)
    intercept[IllegalArgumentException] { // dim contract refuses loud
      graft.pipeline.CorpusStats.embeddingTopComponent(axis, "v", maxDim = 1)
    }
    // ragged dims (a partial re-embed mixing 2- and 3-dim vectors) must
    // refuse loudly — zero-filling the short rows would silently skew
    // λ₁/trace exactly when the drift monitor is most needed
    val ragged = Seq(Array(1f, 0f), Array(0f, 1f, 1f), Array(2f, 1f))
      .map(Tuple1(_)).toDF("v")
    val er = intercept[IllegalArgumentException] {
      graft.pipeline.CorpusStats.embeddingTopComponent(ragged, "v")
    }
    assert(er.getMessage.contains("ragged"))
  }

  test("keynessG2: hand 2x2 G2, one-sided types, direction, balanced type at 0") {
    import spark.implicits._
    // corpus0: "x x y", corpus1: "y y z" → N0=3, N1=3
    val v0 = Seq((1L, "x x y")).toDF("doc_id", "text")
    val v1 = Seq((2L, "y y z")).toDF("doc_id", "text")
    val got = graft.pipeline.CorpusStats.keynessG2(v0, v1, "doc_id", "text",
        topN = 10)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4)))).toMap
    def g2(a: Long, b: Long, n0: Long, n1: Long): Double = {
      val (ad, bd, n0d, n1d) = (a.toDouble, b.toDouble, n0.toDouble, n1.toDouble)
      val (cd, dd) = (n0d - ad, n1d - bd)
      def t(o: Double, e: Double) = if (o > 0) o * math.log(o / e) else 0.0
      val s = t(ad, n0d * (ad + bd) / (n0d + n1d)) +
        t(bd, n1d * (ad + bd) / (n0d + n1d)) +
        t(cd, n0d * (cd + dd) / (n0d + n1d)) +
        t(dd, n1d * (cd + dd) / (n0d + n1d))
      BigDecimal(2.0 * s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(got("x") == ((2L, 0L, g2(2, 0, 3, 3), 1)))  // only in corpus0
    assert(got("z") == ((0L, 1L, g2(0, 1, 3, 3), -1))) // only in corpus1
    // y: 1 vs 2 on equal totals → rate lower in corpus0 → direction -1
    assert(got("y") == ((1L, 2L, g2(1, 2, 3, 3), -1)))
    // a perfectly balanced type scores exactly 0 and ties break by token
    val b0 = Seq((1L, "q r")).toDF("doc_id", "text")
    val b1 = Seq((2L, "q s")).toDF("doc_id", "text")
    val bal = graft.pipeline.CorpusStats.keynessG2(b0, b1, "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getDouble(3)))
    assert(bal.find(_._1 == "q").get._2 == 0.0)
    assert(bal.map(_._1).toSeq == Seq("r", "s", "q")) // g2 desc, then token asc
  }

  test("distinctNgrams: hand counts, short docs skip high n, empty tokens filtered") {
    import spark.implicits._
    // docs: "a b a b" (grams: 1:4/2d, 2:3/2d, 3:2/2d, 4:1/1d) + "a"
    // (adds 1-gram a; too short for n>=2) → totals 5/3/2/1
    val docs = Seq((1L, "a b a b"), (2L, "a"), (3L, "  ")).toDF("doc_id", "text")
    val got = graft.pipeline.CorpusStats.distinctNgrams(docs, "doc_id", "text")
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1) == ((5L, 2L, 0.4)))  // a,b,a,b,a → {a,b}
    assert(got(2) == ((3L, 2L, 0.666667))) // "a b","b a","a b"
    assert(got(3) == ((2L, 2L, 1.0)))  // "a b a","b a b"
    assert(got(4) == ((1L, 1L, 1.0)))
  }

  test("burrowsDelta: identical sources at distance 0, the outlier further") {
    import spark.implicits._
    val docs = Seq(("s1", "x x y"), ("s2", "x x y"), ("s3", "y y x"))
      .toDF("source", "text")
    val rows = graft.pipeline.CorpusStats.burrowsDelta(docs, "source", "text",
        topM = 10).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getAs[Double]("delta")))
      .toMap
    assert(rows(("s1", "s2")) == 0.0)
    assert(rows(("s1", "s3")) > 0.0 && rows(("s1", "s3")) == rows(("s2", "s3")))
    intercept[IllegalArgumentException] {
      graft.pipeline.CorpusStats.burrowsDelta(
        Seq(("only", "x")).toDF("source", "text"), "source", "text")
    }
  }

  test("textRankKeywords: star graph construction, self/empty pairs dropped, topK") {
    import spark.implicits._
    // "a b a c": adjacent pairs (a,b),(b,a),(a,c) → canonical distinct
    // star {a-b, a-c}; "x x" contributes only a self-pair (dropped);
    // hub outranks the tied leaves
    val docs = Seq((1L, "A b a C"), (2L, "x x"), (3L, "")).toDF("id", "text")
    val got = graft.pipeline.CorpusStats.textRankKeywords(docs, "id", "text",
      topK = 10).collect().map(r => (r.getString(0), r.getLong(1)))
    // the ranking must equal exact PageRank over precisely that star
    val star = Seq(("a", "b"), ("b", "a"), ("a", "c"), ("c", "a"))
      .toDF("src", "dst")
    val want = graft.operators.GraphOps.pageRankFixed(star)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got.length == 3 && !got.exists(_._1 == "x"))
    assert(got.toMap == want)
    assert(got(0)._1 == "a" && got(1)._2 == got(2)._2) // hub first, leaves tied
    assert(got(1)._1 == "b" && got(2)._1 == "c") // ties break by word
    // bounded topK is honored
    assert(graft.pipeline.CorpusStats.textRankKeywords(docs, "id", "text",
      topK = 2).count() == 2L)
  }

  test("VecOuterAgg == decimal explode reference; sums past 2^63 exact") {
    import spark.implicits._
    import graft.functions.GraftFunctions.{kcol, kexp}
    // the reference: the posexplode⋈posexplode DECIMAL(38,0) formulation
    // covCells/embeddingCka ran before the kernel — n, per-axis sums and
    // the j ≥ i product cells, each an exact decimal sum
    def check(base: DataFrame, d: Int): Unit = {
      def dec(c: Column): Column = c.cast("decimal(38,0)")
      val flat = base.select(kcol(graft.expr.VecOuterAgg(kexp(col("__q")), d)
        .toAggregateExpression()).as("m")).head()
        .getSeq[java.math.BigDecimal](0).map(BigDecimal(_))
      assert(flat.length == graft.expr.VecOuterAgg.cells(d))
      assert(flat(0) == BigDecimal(base.count()))
      val sums = base.select(posexplode(col("__q")).as(Seq("i", "x")))
        .groupBy("i").agg(sum(dec(col("x"))).as("s")).collect()
        .map(r => r.getInt(0) -> BigDecimal(r.getDecimal(1))).toMap
      (0 until d).foreach(i => assert(flat(1 + i) == sums(i), s"sum $i"))
      val cells = base
        .select(posexplode(col("__q")).as(Seq("i", "xi")), col("__q"))
        .select(col("i"), col("xi"), posexplode(col("__q")).as(Seq("j", "xj")))
        .where(col("j") >= col("i"))
        .groupBy("i", "j")
        .agg(sum(dec(col("xi")) * dec(col("xj"))).as("c"))
        .collect()
      assert(cells.length == d * (d + 1) / 2)
      cells.foreach { r =>
        val (i, j) = (r.getInt(0), r.getInt(1))
        assert(flat(graft.expr.VecOuterAgg.triOff(d, i, j)) ==
          BigDecimal(r.getDecimal(2)), s"cell ($i,$j)")
      }
    }
    val d = 16
    val emb = engine.table("embeddings").limit(300)
      .select(transform(col("embedding"),
        v => round(v.cast("double") * lit(1e6), 0).cast("long")).as("__q"))
      .select(slice(col("__q"), 1, d).as("__q")).cache()
    check(emb, d)
    emb.unpersist(false)
    // partial sums past 2⁶³ on every kind of cell: axis sums below
    // Long.MinValue and above Long.MaxValue, squares up to 2¹²⁶, cross
    // products of both signs — all inside DECIMAL(38,0)
    val wide = Seq(
      Seq(Long.MinValue, 3000000000000000000L, -1L),
      Seq(5L, -3000000000000000000L, Long.MaxValue),
      Seq(-(1L << 31), 1L << 62, 1L << 31)).toDF("__q").repartition(3)
    check(wide, 3)
    // end to end at |q| = 2.912e9 units (n·q² past 2⁶³): exact spectra,
    // λ₁ = (2912·10⁶)²/10¹² = 2912² exactly
    val big = Seq(Array(2912f, 0f), Array(-2912f, 0f))
      .map(Tuple1(_)).toDF("v")
    val r = graft.pipeline.CorpusStats.embeddingTopComponent(big, "v").head()
    assert(r.getAs[Double]("lambda1") == 2912.0 * 2912.0)
    assert(r.getAs[Double]("top_share") == 1.0)
    // every d ≤ maxDim has a path: 2d = 1026 cells per side of the CKA
    // concat (the kernel has no dimension cap of its own)
    val wideDim = 513
    val vecs = Seq(0, 1, 2).map(k =>
      Tuple1(Array.tabulate(wideDim)(i => if (i % 3 == k) 1f + k else 0f)))
      .toDF("v")
    val cka = graft.pipeline.CorpusStats.embeddingCka(vecs, col("v"), col("v"),
      maxDim = wideDim).head()
    assert(cka.getAs[Long]("dim") == wideDim && cka.getAs[Double]("cka") == 1.0)
  }

  test("embeddingCka: identity/rotation/scale read 1.0, guards refuse") {
    import spark.implicits._
    val x = Seq(Seq(1.0f, 0.0f), Seq(0.0f, 1.0f), Seq(-1.0f, 0.0f),
      Seq(2.0f, 3.0f))
    // 90° rotation (an exact signed permutation) and isotropic 2× — the
    // invariances that DEFINE "same geometry"
    val rot = x.map(v => Seq(-v(1), v(0)))
    val twice = x.map(v => v.map(_ * 2.0f))
    def cka(ys: Seq[Seq[Float]]): Double = {
      val df = x.zip(ys).toDF("x", "y")
      graft.pipeline.CorpusStats.embeddingCka(df, col("x"), col("y"))
        .head().getAs[Double]("cka")
    }
    assert(cka(x) == 1.0 && cka(rot) == 1.0 && cka(twice) == 1.0)
    // an unrelated representation reads below 1
    val noise = Seq(Seq(3.0f, -1.0f), Seq(-2.0f, 0.5f), Seq(0.0f, 2.0f),
      Seq(1.0f, 1.0f))
    assert(cka(noise) < 1.0)
    // mismatched dims refuse loudly; so does a single row
    intercept[IllegalArgumentException] {
      graft.pipeline.CorpusStats.embeddingCka(
        x.map(v => (v, Seq(1.0f, 2.0f, 3.0f))).toDF("x", "y"),
        col("x"), col("y"))
    }
    intercept[IllegalArgumentException] {
      graft.pipeline.CorpusStats.embeddingCka(
        Seq((Seq(1.0f), Seq(1.0f))).toDF("x", "y"), col("x"), col("y"))
    }
  }
  test("embeddingTopTwo: axis-aligned plane read exactly, isotropic near-tie honest") {
    import spark.implicits._
    // variance 4.5 on x, 0.5 on y, zero means: λ₁ = 4.5, λ₂ = 0.5,
    // trace 5 — the deflation start picks the axis least aligned with
    // v₁, so the exact-converged v₁ = e_x cannot annihilate it
    val plane = Seq(Seq(3.0f, 0.0f), Seq(-3.0f, 0.0f),
      Seq(0.0f, 1.0f), Seq(0.0f, -1.0f)).map(Tuple1(_)).toDF("e")
    val r = graft.pipeline.CorpusStats.embeddingTopTwo(plane, "e").head()
    assert(r.getAs[Double]("lambda1") == 4.5 && r.getAs[Double]("lambda2") == 0.5)
    assert(r.getAs[Double]("trace") == 5.0
      && r.getAs[Double]("top2_share") == 1.0)
    assert(r.getAs[Double]("gap_ratio") == 0.111111)
    // an exactly 2-D-collapsed space with EQUAL spread: both components
    // carry it all, the alarm reading λ₂/λ₁ ≈ 1 with top2_share 1
    val iso2 = Seq(Seq(1.0f, 1.0f, 0.0f), Seq(-1.0f, -1.0f, 0.0f),
      Seq(1.0f, -1.0f, 0.0f), Seq(-1.0f, 1.0f, 0.0f)).map(Tuple1(_)).toDF("e")
    val r2 = graft.pipeline.CorpusStats.embeddingTopTwo(iso2, "e").head()
    assert(r2.getAs[Double]("top2_share") == 1.0)
    assert(r2.getAs[Double]("gap_ratio") >= 0.999999)
  }

  test("naiveBayes: disjoint-vocab corpus classifies perfectly; refusals") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // 40 docs, two classes with DISJOINT vocabularies — whatever the
    // hash split keeps for train, every test doc's tokens are seen only
    // under its own class, so NB must land the full diagonal
    val docs = ((0 until 20).map(i => (i.toLong, "apple pear apple", "fruit"))
      ++ (20 until 40).map(i => (i.toLong, "dog cat dog cat", "animal")))
      .toDF("doc_id", "text", "lab")
    val cm = graft.pipeline.Classify
      .naiveBayes(docs, "doc_id", "text", "lab", trainFrac = 0.5)
      .collect()
    assert(cm.nonEmpty && cm.forall(r =>
      r.getAs[String]("label") == r.getAs[String]("predicted")))
    // confusion mass == test split size, and the matrix is
    // partitioning-invariant (split is a pure function of the id)
    val nTest = docs.where(!graft.pipeline.Sampling
      .sampledFlag(col("doc_id"), 0.5, "nb")).count()
    assert(cm.map(_.getAs[Long]("n_docs")).sum == nTest)
    val cm12 = graft.pipeline.Classify
      .naiveBayes(docs.repartition(12), "doc_id", "text", "lab",
        trainFrac = 0.5).collect()
    assert(cm12.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      == cm.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq)
    // ambiguous-token doc scores by the prior when counts tie: with a
    // shared vocab and balanced classes the argmax tie breaks to the
    // SMALLEST class label — pinned so the contract is visible
    val tied = ((0 until 8).map(i => (i.toLong, "x y", "a"))
      ++ (8 until 16).map(i => (i.toLong, "x y", "b")))
      .toDF("doc_id", "text", "lab")
    val cmT = graft.pipeline.Classify
      .naiveBayes(tied, "doc_id", "text", "lab", trainFrac = 0.5).collect()
    // only a tie if the train split kept both classes equally; assert
    // the weaker invariant that holds regardless: predictions are a
    // single class when scores tie exactly, never a mix per label
    assert(cmT.map(_.getAs[String]("predicted")).distinct.length <= 2)
    // class-cap refusal fires before any scoring work
    val many = (0 until 40).map(i => (i.toLong, "w", s"c$i"))
      .toDF("doc_id", "text", "lab")
    val ex = intercept[IllegalArgumentException] {
      graft.pipeline.Classify.naiveBayes(many, "doc_id", "text", "lab",
        maxClasses = 4)
    }
    assert(ex.getMessage.contains("class"))
    // empty- and whitespace-only-text docs are EXCLUDED like NULL text:
    // no phantom "" token into V, no prior pollution, no unscoreable
    // test doc — the confusion matrix is byte-identical with them added
    val padded = docs.unionByName(Seq((100L, "", "fruit"),
      (101L, "   \t ", "animal")).toDF("doc_id", "text", "lab"))
    val cmP = graft.pipeline.Classify
      .naiveBayes(padded, "doc_id", "text", "lab", trainFrac = 0.5).collect()
    assert(cmP.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      == cm.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq)
  }

  test("confusionMetrics: hand 3-class matrix, zero-division, kappa NULL") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // rows A:60 (tp 50), B:35 (tp 30), C:5 (tp 0, never predicted);
    // cols A:60, B:40; n=100, diag=80 → accuracy .8;
    // κ = (100·80 − (60·60+35·40+0))/(100² − 5000) = 3000/5000 = .6;
    // macro P = (50/60 + 30/40 + 0)/3, R = (50/60 + 30/35 + 0)/3,
    // F1 = (100/120 + 60/75 + 0)/3
    val conf = Seq(("A", "A", 50L), ("A", "B", 10L), ("B", "B", 30L),
      ("B", "A", 5L), ("C", "A", 5L)).toDF("label", "predicted", "n_docs")
    val r = graft.pipeline.Classify
      .confusionMetrics(conf, "label", "predicted", "n_docs").head()
    assert(r.getAs[Long]("n") == 100L && r.getAs[Long]("n_classes") == 3L)
    assert(r.getAs[Double]("accuracy") == 0.8)
    assert(r.getAs[Double]("kappa") == 0.6)
    assert(r.getAs[Double]("macro_precision") == 0.527778)
    assert(r.getAs[Double]("macro_recall") == 0.563492)
    assert(r.getAs[Double]("macro_f1") == 0.544444)
    // single class on both margins: pe = 1, κ undefined → loud NULL
    val one = Seq(("A", "A", 10L)).toDF("label", "predicted", "n_docs")
    val r1 = graft.pipeline.Classify
      .confusionMetrics(one, "label", "predicted", "n_docs").head()
    assert(r1.getAs[Double]("accuracy") == 1.0)
    assert(r1.isNullAt(r1.fieldIndex("kappa")))
  }
}
