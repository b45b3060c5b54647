package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Frame-sampling and resize plumbing over binary assets: row fan-out,
  * metadata consistency, deterministic content.
  */
class MultimodalSpec extends AnyFunSuite {
  private implicit lazy val spark: SparkSession = graft.LocalSpark.session()

  private def assets = {
    import spark.implicits._
    Seq(
      Multimodal.Asset(1L, "video", 100L, Array.tabulate(100)(_.toByte)),
      Multimodal.Asset(2L, "video", 7L, Array.tabulate(7)(_.toByte)),
      Multimodal.Asset(3L, "image", 0L, Array.empty[Byte])).toDF()
  }

  test("sampleFrames emits <= n evenly spaced fixed-size frames per asset") {
    val frames = Multimodal.sampleFrames(assets, frameBytes = 10, n = 4).collect()
    val byId = frames.groupBy(_.asset_id)
    // asset 1: 10 frames of 10 bytes -> 4 samples at idx 0,3,6,9
    assert(byId(1L).map(_.frame_idx).sorted.toSeq == Seq(0, 3, 6, 9))
    assert(byId(1L).forall(_.n_bytes == 10L))
    assert(byId(1L).find(_.frame_idx == 3).get.payload.head == 30.toByte)
    // asset 2: one partial frame
    assert(byId(2L).map(_.frame_idx).toSeq == Seq(0) && byId(2L).head.n_bytes == 7L)
    // asset 3: empty payload still yields its single (empty) frame
    assert(byId(3L).head.n_bytes == 0L)
  }

  test("real PNG codec round-trip: encode via ImageIO, decode recovers exact pixels") {
    import spark.implicits._
    val ids = Seq(0L, 1L, 7L, 42L).toDF("id")
    val png = Multimodal.synthPngAssets(ids, "id", width = 16, height = 16)
    // payloads are REAL PNGs (magic bytes), not fakes
    val payloads = png.collect().map(r =>
      r.getAs[Long]("asset_id") -> r.getAs[Array[Byte]]("payload")).toMap
    payloads.values.foreach(p =>
      assert(p.take(4).toSeq == Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte)))
    val feats = Multimodal.imageFeatures(png).collect().map(f => f.asset_id -> f).toMap
    for (id <- Seq(0L, 1L, 7L, 42L)) {
      val pix = (0 until 256).map(i => ((id * 31 + i) % 256).toInt)
      val f = feats(id)
      assert(f.width == 16 && f.height == 16)
      assert(f.px_min == pix.min && f.px_max == pix.max)
      assert(f.px_mean == pix.sum.toDouble / 256, s"mean drifted for id=$id")
    }
  }

  test("undecodable payloads: quarantine marker in extractFeatures, hard fail in imageFeatures") {
    import spark.implicits._
    val garbage = Seq(
      Multimodal.Asset(9L, "image", 4L, Array[Byte](1, 2, 3, 4))).toDF()
    val f = Multimodal.extractFeatures(garbage).collect().head
    assert(f.feature.forall(_ == -1.0), "garbage image should carry the -1 marker")
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.imageFeatures(garbage).collect()
    }
    assert(e.getMessage.contains("not a decodable image") ||
      Option(e.getCause).exists(_.getMessage.contains("not a decodable image")))
  }

  test("extractFeatures dispatches by modality: images decode, text keeps the byte summary") {
    import spark.implicits._
    val png = Multimodal.synthPngAssets(Seq(5L).toDF("id"), "id", 16, 16)
    val imgFeat = Multimodal.extractFeatures(png).collect().head
    assert(imgFeat.feature.take(2).toSeq == Seq(16.0, 16.0), "image features start w,h")
    val txt = Seq(Multimodal.Asset(6L, "text", 3L, "abc".getBytes)).toDF()
    val txtFeat = Multimodal.extractFeatures(txt).collect().head
    assert(txtFeat.feature.length == Multimodal.FeatureDim &&
      txtFeat.feature.exists(_ > 0), "text path keeps the deterministic byte summary")
  }

  test("real WAV codec round-trip: synth container decodes to exact PCM stats") {
    import spark.implicits._
    val docs = Seq((5L, "x"), (6L, "y")).toDF("doc_id", "text")
    val assets = Multimodal.synthWavAssets(docs, "doc_id", sampleRate = 8000, nSamples = 4)
    val got = Multimodal.audioFeatures(assets).collect().sortBy(_.asset_id)
    // replay the generation formula by hand for id=5, t=0..3
    def sample(id: Long, t: Long): Int = (((id * 7919L + t * 104729L) % 65536L) - 32768L).toInt
    for ((f, id) <- got.zip(Seq(5L, 6L))) {
      val ss = (0L until 4L).map(sample(id, _))
      assert(f.sample_rate == 8000 && f.n_samples == 4)
      assert(f.peak == ss.map(math.abs).max)
      val zc = (1 until 4).count(i => (ss(i) >= 0) != (ss(i - 1) >= 0))
      assert(f.zero_crossings == zc.toLong)
      val rms = math.rint(math.sqrt(ss.map(s => s.toLong * s).sum.toDouble / 4) * 1e4) / 1e4
      assert(f.rms == rms)
    }
  }

  test("decodeWav walks chunks: LIST before data is skipped; malformed payloads -> None") {
    import spark.implicits._
    val docs = Seq((9L, "z")).toDF("doc_id", "text")
    val wav = Multimodal.synthWavAssets(docs, "doc_id", 8000, 4)
      .collect().head.getAs[Array[Byte]]("payload")
    val direct = Multimodal.decodeWav(wav).get

    // splice a LIST chunk between "fmt " and "data" (after byte 36)
    val listChunk = "LIST".getBytes("US-ASCII") ++ Array[Byte](4, 0, 0, 0) ++ "INFO".getBytes("US-ASCII")
    val spliced = wav.take(36) ++ listChunk ++ wav.drop(36)
    assert(Multimodal.decodeWav(spliced).contains(direct))

    assert(Multimodal.decodeWav(wav.take(30)).isEmpty)          // truncated
    assert(Multimodal.decodeWav("nope".getBytes).isEmpty)       // not RIFF
    val stereo = wav.clone; stereo(22) = 2                      // channels=2
    assert(Multimodal.decodeWav(stereo).isEmpty)
    val eightBit = wav.clone; eightBit(34) = 8                  // bits=8
    assert(Multimodal.decodeWav(eightBit).isEmpty)
  }


  test("GFV1 video round-trip: every frame through the real PNG decode, temporal stats exact") {
    import spark.implicits._
    val docs = Seq((3L, "v")).toDF("doc_id", "text")
    val assets = Multimodal.synthVideoAssets(docs, "doc_id", 4, 4, nFrames = 3)
    val f = Multimodal.videoFeatures(assets).collect().head
    // hand stats: frame f mean = avg over i<16 of (3*31 + f*17 + i) % 256
    def mean(fr: Int): Double =
      (0 until 16).map(i => (3 * 31 + fr * 17 + i) % 256).sum.toDouble / 16
    assert(f.n_frames == 3 && f.width == 4 && f.height == 4)
    assert(f.mean_first == mean(0) && f.mean_last == mean(2))
    val expected = (math.abs(mean(1) - mean(0)) + math.abs(mean(2) - mean(1))) / 2
    assert(f.avg_abs_delta == expected)
  }

  test("decodeVideo rejects bad magic, corrupt frames, and mismatched rasters") {
    import spark.implicits._
    val docs = Seq((7L, "v")).toDF("doc_id", "text")
    val good = Multimodal.synthVideoAssets(docs, "doc_id", 4, 4, nFrames = 2)
      .collect().head.getAs[Array[Byte]]("payload")
    assert(Multimodal.decodeVideo(good).isDefined)
    val badMagic = good.clone; badMagic(0) = 'X'.toByte
    assert(Multimodal.decodeVideo(badMagic).isEmpty)
    // corrupt the first frame's PNG signature (byte 12 = first frame byte)
    val corrupt = good.clone; corrupt(12) = 0
    assert(Multimodal.decodeVideo(corrupt).isEmpty)
    assert(Multimodal.decodeVideo(good.take(20)).isEmpty) // truncated
  }

  test("resizeImages: nearest-neighbor floor mapping, odd sizes, PNG product") {
    import spark.implicits._
    // 5x3 source with pixel(x,y) = y*5 + x, through the REAL encoder
    val img = new java.awt.image.BufferedImage(
      5, 3, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 3; x <- 0 until 5) img.getRaster.setSample(x, y, 0, y * 5 + x)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val src = Seq(Multimodal.Asset(9L, "image", bos.size().toLong, bos.toByteArray)).toDF()
    val out = Multimodal.resizeImages(src, targetW = 2, targetH = 2).collect().head
    // the product must be a real, decodable PNG
    assert(out.payload.take(4).toSeq ==
      Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))
    val dec = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(out.payload))
    assert(dec.getWidth == 2 && dec.getHeight == 2)
    // dst(x,y) = src(x*5/2, y*3/2) = src(0,0) src(2,0) src(0,1) src(2,1)
    val got = for (y <- 0 until 2; x <- 0 until 2)
      yield dec.getRaster.getSample(x, y, 0)
    assert(got == Seq(0, 2, 5, 7), s"pixels $got")
    // undecodable payload fails the correctness gate
    val bad = Seq(Multimodal.Asset(1L, "image", 3L, Array[Byte](1, 2, 3))).toDF()
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.resizeImages(bad, 2, 2).collect()
    }
    assert(e.getMessage != null)
  }

  test("flipImages mirrors the raster: half sums swap, double flip is identity") {
    import spark.implicits._
    val docs = Seq((1L, "x"), (7L, "y")).toDF("doc_id", "text")
    val src = Multimodal.synthPngAssets(docs, "doc_id", width = 6, height = 4)
    val srcStats = Multimodal.imageHalfStats(src).collect()
      .map(s => s.asset_id -> ((s.left_sum, s.right_sum))).toMap
    val flipped = Multimodal.flipImages(src)
    val flipStats = Multimodal.imageHalfStats(flipped.toDF()).collect()
      .map(s => s.asset_id -> ((s.left_sum, s.right_sum))).toMap
    // even width: the mirror swaps the halves exactly
    srcStats.foreach { case (id, (l, r)) =>
      assert(flipStats(id) == ((r, l)), s"asset $id: $l/$r vs ${flipStats(id)}")
    }
    // involution: flipping twice recovers the original payload bytes
    val twice = Multimodal.flipImages(flipped.toDF()).collect()
      .map(a => a.asset_id -> a.payload.toSeq).toMap
    src.as[Multimodal.Asset].collect().foreach { a =>
      assert(twice(a.asset_id) == a.payload.toSeq, s"asset ${a.asset_id} not involutive")
    }
  }

  test("flipImages and imageHalfStats reject multi-band (color) rasters") {
    import spark.implicits._
    val rgb = new java.awt.image.BufferedImage(
      4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    rgb.setRGB(0, 0, 0xFF0000)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(rgb, "png", out)
    val assets = Seq(Multimodal.Asset(1L, "image", out.size().toLong, out.toByteArray)).toDF()
    val e1 = intercept[org.apache.spark.SparkException] {
      Multimodal.flipImages(assets).collect()
    }
    assert(e1.getMessage.contains("single-band") ||
      Option(e1.getCause).exists(_.getMessage.contains("single-band")))
    val e2 = intercept[org.apache.spark.SparkException] {
      Multimodal.imageHalfStats(assets).collect()
    }
    assert(e2.getMessage.contains("single-band") ||
      Option(e2.getCause).exists(_.getMessage.contains("single-band")))
  }

  test("band0 fast path and grayImage direct fill agree with the public raster API") {
    // the r16 pixel kernels read/write the raster's byte bank directly;
    // this pins them to the values the public getSample/getSamples
    // surface reports, for both a synthesized TYPE_BYTE_GRAY raster and
    // a REAL PNG decode (the two layouts the fast path claims)
    val w = 13; val h = 7 // non-square, non-power-of-two on purpose
    val img = Multimodal.grayImage(w, h)(i => (i * 37 + 11) % 256)
    val viaApi = {
      val out = new Array[Int](w * h)
      img.getRaster.getSamples(0, 0, w, h, 0, out)
      out.toSeq
    }
    assert(Multimodal.band0(img).toSeq == viaApi)
    assert(viaApi == (0 until w * h).map(i => (i * 37 + 11) % 256))
    // round-trip through the real codec: decoded bank layout matches too
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val decoded = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bos.toByteArray))
    assert(Multimodal.band0(decoded).toSeq == viaApi)
  }

  test("resize strides payloads down to at most targetBytes") {
    val out = Multimodal.resize(assets, targetBytes = 25).collect()
    val a1 = out.find(_.asset_id == 1L).get
    assert(a1.payload.length == 25 && a1.n_bytes == 25L)
    assert(a1.payload.take(3).toSeq == Seq(0.toByte, 4.toByte, 8.toByte)) // stride 4
    // already-small payloads pass through untouched
    assert(out.find(_.asset_id == 2L).get.payload.length == 7)
  }
}
