package graft

import graft.operators.Multimodal
import graft.operators.Multimodal.Media

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("decodeImages recovers exact pattern pixels through a real PNG roundtrip") {
    val ids = Seq(0L, 1L, 5L, 12L, 123L)
    val media = ids.map(id =>
      Media(id, "image/png",
        Multimodal.encodePng(id, 8 + (id % 9).toInt, 8 + (id % 7).toInt))).toDS()
    val got = Multimodal.decodeImages(media).collect()
      .map(s => s.media_id -> s).toMap
    assert(got.keySet == ids.toSet)
    ids.foreach { id =>
      val (w, h) = (8 + (id % 9).toInt, 8 + (id % 7).toInt)
      var er = 0L; var eg = 0L; var eb = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val (r, g, b) = Multimodal.patternPixel(id, x, y)
        er += r; eg += g; eb += b
      }
      val s = got(id)
      assert(s.width == w && s.height == h)
      assert((s.sum_r, s.sum_g, s.sum_b) == ((er, eg, eb)),
        s"channel sums mismatch for media $id")
      assert(math.abs(s.features.sum - 1.0) < 1e-9)
    }
  }

  test("decodeImages drops undecodable payloads instead of failing the batch") {
    val media = Seq(
      Media(1L, "image/png", Multimodal.encodePng(1L, 8, 8)),
      Media(2L, "image/png", Array[Byte](1, 2, 3, 4))).toDS()
    val got = Multimodal.decodeImages(media).collect()
    assert(got.map(_.media_id).toSeq == Seq(1L))
  }

  test("resizeImage is a real Graphics2D rescale that composes with decode") {
    val media = Seq(Media(7L, "image/png", Multimodal.encodePng(7L, 10, 6))).toDS()
    // identity resize: nearest-neighbor at 1:1 maps each pixel to itself,
    // so the decoded channel sums are unchanged
    val same = Multimodal.decodeImages(
      Multimodal.resizeImage(media, 10, 6)).head()
    val orig = Multimodal.decodeImages(media).head()
    assert((same.sum_r, same.sum_g, same.sum_b) ==
      ((orig.sum_r, orig.sum_g, orig.sum_b)))
    // downscale: dims change, output still a decodable PNG
    val small = Multimodal.decodeImages(
      Multimodal.resizeImage(media, 4, 3)).head()
    assert(small.width == 4 && small.height == 3)
    // a solid-color image stays exactly that color under any rescale
    val solid = {
      val img = new java.awt.image.BufferedImage(
        9, 5, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 5; x <- 0 until 9)
        img.setRGB(x, y, (200 << 16) | (100 << 8) | 50)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      Seq(Media(3L, "image/png", bos.toByteArray)).toDS()
    }
    val rs = Multimodal.decodeImages(
      Multimodal.resizeImage(solid, 4, 7)).head()
    assert((rs.sum_r, rs.sum_g, rs.sum_b) ==
      ((200L * 28, 100L * 28, 50L * 28)))
  }

  test("imageFeatures emits exact channel means for the declared query") {
    val ids = spark.range(0, 20).toDF("doc_id")
    val got = Multimodal.imageFeatures(Multimodal.syntheticImages(ids))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getDouble(3))).toMap
    assert(got.size == 20)
    val (w, h) = (8 + (3 % 9), 8 + (3 % 7))
    var er = 0L
    for (y <- 0 until h; x <- 0 until w) er += Multimodal.patternPixel(3L, x, y)._1
    val expected = BigDecimal(er.toDouble / (w * h))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(3L) == ((w, h, expected)))
  }

  test("decodeAudio recovers exact PCM samples through a real WAV roundtrip") {
    val ids = Seq(0L, 1L, 7L, 42L)
    val media = ids.map(id =>
      Media(id, "audio/wav",
        Multimodal.encodeWav(id, 400 + (id % 37).toInt))).toDS()
    val got = Multimodal.decodeAudio(media).collect()
      .map(s => s.media_id -> s).toMap
    assert(got.keySet == ids.toSet)
    ids.foreach { id =>
      val n = 400 + (id % 37).toInt
      var sumAbs = 0L; var zc = 0L; var prev = 0
      for (i <- 0 until n) {
        val s = Multimodal.patternSample(id, i)
        sumAbs += math.abs(s)
        if (i > 0 && prev.toLong * s < 0) zc += 1
        prev = s
      }
      val st = got(id)
      assert(st.sample_rate == 8000 && st.n_samples == n)
      assert((st.sum_abs, st.zero_crossings) == ((sumAbs, zc)),
        s"sample stats mismatch for media $id")
      assert(math.abs(st.features.sum - 1.0) < 1e-9)
    }
  }

  test("decodeAudio drops undecodable payloads instead of failing the batch") {
    val media = Seq(
      Media(1L, "audio/wav", Multimodal.encodeWav(1L, 100)),
      Media(2L, "audio/wav", Array[Byte](9, 9, 9, 9))).toDS()
    assert(Multimodal.decodeAudio(media).collect().map(_.media_id).toSeq
      == Seq(1L))
  }

  test("real image features flow into Similarity as embeddings") {
    val ids = spark.range(0, 10).toDF("doc_id")
    val emb = Multimodal.imageEmbeddings(
      Multimodal.decodeImages(Multimodal.syntheticImages(ids)))
      .withColumn("label", org.apache.spark.sql.functions.lit(1))
    val topk = operators.Similarity.annTopK(emb, 2, 3).collect()
    assert(topk.length == 6)
  }

  test("decodeVideoFrames: real per-frame PNG decode with strided sampling") {
    import spark.implicits._
    // media_id = 7 → 5 frames of 6×4; stride 2 samples frames 0, 2, 4
    val media = Seq(Multimodal.Media(7L, "video/x-frame-packed",
      Multimodal.encodeVideo(7L, 5, 6, 4))).toDS()
    val got = Multimodal.decodeVideoFrames(media, stride = 2).collect()
      .sortBy(_.frame_idx)
    assert(got.map(_.frame_idx).toSeq == Seq(0, 2, 4))
    got.foreach { st =>
      assert(st.width == 6 && st.height == 4)
      // losslessness: decoded channel sums equal the pattern formula
      val key = 7L * 1000L + st.frame_idx
      var er = 0L; var eg = 0L; var eb = 0L
      for (y <- 0 until 4; x <- 0 until 6) {
        val (r, g, b) = Multimodal.patternPixel(key, x, y)
        er += r; eg += g; eb += b
      }
      assert((st.sum_r, st.sum_g, st.sum_b) == ((er, eg, eb)),
        s"frame ${st.frame_idx}")
    }
  }

  test("decodeVideoFrames rejects containers without the FPV1 magic") {
    import spark.implicits._
    val media = Seq(
      Multimodal.Media(1L, "video/x-frame-packed", Array[Byte](1, 2, 3)),
      Multimodal.Media(2L, "video/x-frame-packed",
        Multimodal.encodeVideo(2L, 2, 8, 8))).toDS()
    val got = Multimodal.decodeVideoFrames(media, stride = 2).collect()
    assert(got.map(_.media_id).distinct.toSeq == Seq(2L))
  }
}
