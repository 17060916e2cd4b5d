package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "hello world"),
    (2L, "x"),
    (3L, null.asInstanceOf[String])
  ).toDF("doc_id", "text")

  test("payload attach + stub decode: deterministic metadata, null passthrough") {
    val out = Multimodal.decodeMeta(Multimodal.attachPayload(docs),
      decoder = Multimodal.StubDecoder)
    val metas = out.select("doc_id", "image_meta.width", "image_meta.height",
        "image_meta.format", "image_meta.n_bytes")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some((r.getInt(1), r.getInt(2), r.getString(3), r.getLong(4)))))
      .toMap
    // "hello world": bytes h=0x68, e=0x65; len 11 → odd → jpeg
    assert(metas(1L) === Some((16 + 0x68, 16 + 0x65, "jpeg", 11L)))
    // "x": single byte; h from missing second byte → 16; len 1 → jpeg
    assert(metas(2L) === Some((16 + 'x'.toInt, 16, "jpeg", 1L)))
    assert(metas(3L) === None) // null payload → null meta
  }

  test("feature extraction yields fixed-dim vectors feeding Similarity") {
    val out = Multimodal.extractFeatures(Multimodal.attachPayload(docs), dim = 4,
      decoder = Multimodal.StubDecoder)
    val feats = out.filter($"doc_id" === 1).select("features")
      .as[Seq[Float]].head()
    assert(feats.length === 4)
    assert(feats.sum > 0.0f)
    // deterministic: same input → same features
    val again = Multimodal.extractFeatures(Multimodal.attachPayload(docs), dim = 4,
        decoder = Multimodal.StubDecoder)
      .filter($"doc_id" === 1).select("features").as[Seq[Float]].head()
    assert(feats === again)
  }

  // --- real javax.imageio decoder ---

  /** Hand-crafted 3x2 grayscale PNG (NOT produced by the JDK encoder, so
    * decode is tested against an independent writer): row0 = 10,20,30,
    * row1 = 200,210,220.
    */
  private lazy val fixturePng: Array[Byte] = {
    val in = getClass.getResourceAsStream("/fixture_3x2.png")
    try in.readAllBytes() finally in.close()
  }

  test("ImageIoDecoder reads real PNG header metadata from a committed fixture") {
    assert(Multimodal.ImageIoDecoder.meta(fixturePng) === ((3, 2, "png")))
    // through the batch stage too
    val df = Seq((1L, fixturePng)).toDF("id", "payload")
    val m = Multimodal.decodeMeta(df)
      .select("image_meta.width", "image_meta.height", "image_meta.format",
        "image_meta.n_bytes").head()
    assert((m.getInt(0), m.getInt(1), m.getString(2), m.getLong(3)) ===
      ((3, 2, "png", fixturePng.length.toLong)))
  }

  test("ImageIoDecoder features are the exact luminance histogram of the fixture") {
    // gray pixels 10,20,30 → bin 0 of 4 (luma<64); 200,210,220 → bin 3
    val f = Multimodal.ImageIoDecoder.features(fixturePng, dim = 4)
    assert(f.toSeq === Seq(0.5f, 0f, 0f, 0.5f))
  }

  test("ImageIoDecoder round-trips a JDK-encoded JPEG") {
    val img = new java.awt.image.BufferedImage(
      7, 5, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(3, 2, 0xff8040)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpeg", bos)
    val (w, h, fmt) = Multimodal.ImageIoDecoder.meta(bos.toByteArray)
    assert((w, h) === ((7, 5)))
    assert(fmt === "jpeg")
  }

  test("undecodable payloads quarantine to null instead of failing the job") {
    val out = Multimodal.decodeMeta(Multimodal.attachPayload(docs)) // utf-8 text, not images
    assert(out.where($"image_meta".isNotNull).count() === 0)
    assert(out.count() === 3) // every row survives
    val feats = Multimodal.extractFeatures(Multimodal.attachPayload(docs))
    assert(feats.where($"features".isNotNull).count() === 0)
  }

  test("attachImagePayload emits genuine near-square PNGs with closed-form dims") {
    val d = Seq((1L, "hello world"), (2L, "x"), (3L, "a" * 17)).toDF("doc_id", "text")
    val out = Multimodal.decodeMeta(Multimodal.attachImagePayload(d))
      .select($"doc_id", $"image_meta.width", $"image_meta.height",
        $"image_meta.format")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3))))
      .toMap
    // n=11 → w=ceil(sqrt(11))=4, h=ceil(11/4)=3; n=1 → 1x1; n=17 → w=5,h=4
    assert(out(1L) === ((4, 3, "png")))
    assert(out(2L) === ((1, 1, "png")))
    assert(out(3L) === ((5, 4, "png")))
    // pixels really carry the bytes: decode doc 2's single pixel
    val png = Multimodal.attachImagePayload(d).filter($"doc_id" === 2)
      .select($"payload").as[Array[Byte]].head()
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img.getRaster.getSample(0, 0, 0) === 'x'.toInt)
  }

  test("frame sampling produces bounded frame lists") {
    val out = Multimodal.frameSample(
      Multimodal.attachPayload(Seq((1L, "a" * 1000)).toDF("doc_id", "text")),
      everyN = 2, frameBytes = 64)
    val frames = out.select("frames").as[Seq[Array[Byte]]].head()
    assert(frames.nonEmpty)
    assert(frames.forall(_.length <= 64))
  }

  test("audio payload synth round-trips: parsed samples match the closed form") {
    val df = Multimodal.audioFeatures(Multimodal.attachAudioPayload(
      Seq(0L, 3L, 11L, 34L).toDF("doc_id")))
    df.select("doc_id", "audio_features.*").collect().foreach { r =>
      val id = r.getLong(0)
      val n = 512 + (id % 5).toInt * 128
      val f = 1 + (id % 7).toInt
      val samples = (0 until n).map(i => (((i * f) % 256) - 128) * 256)
      assert(r.getLong(1) == n.toLong, s"n_samples for doc $id")
      assert(r.getLong(2) == samples.map(v => math.abs(v.toLong)).max,
        s"peak for doc $id")
      val sumSq = samples.map(v => v.toLong * v).sum
      assert(r.getDouble(3) == math.sqrt(sumSq.toDouble / n), s"rms for doc $id")
      val zc = samples.sliding(2).count(p => (p(0) < 0) != (p(1) < 0))
      assert(r.getLong(4) == zc.toLong, s"zero crossings for doc $id")
    }
  }

  test("odd-length and null audio payloads quarantine to a null struct") {
    val df = Seq(
      (1L, Array[Byte](1, 2, 3)),      // odd byte count: not PCM16
      (2L, null.asInstanceOf[Array[Byte]]),
      (3L, Array[Byte](0, 1, 0, -1)))  // valid 2-sample payload
      .toDF("doc_id", "audio")
    val out = Multimodal.audioFeatures(df)
      .select($"doc_id", $"audio_features").collect()
      .map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(out(1L) && out(2L) && !out(3L))
  }
}
