package graft

import graft.operators.Multimodal
import graft.operators.Multimodal.MediaRow

/** Binary-column plumbing with a REAL decode path: fixtures are
  * genuine BMP (hand-assembled, byte-deterministic) and PNG (JDK
  * ImageIO writer) containers; the kernel decodes them with
  * `ImageIO.read` and features come from decoded pixels only.
  */
class MultimodalSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("encode/decode round trip: BMP and PNG give back the exact pixels") {
    val gray = Array.tabulate(12 * 5)(i => ((i * 37) % 256).toByte)
    for ((name, bytes) <- Seq(
        "bmp" -> Multimodal.encodeBmp(gray, 12, 5),
        "png" -> Multimodal.encodePng(gray, 12, 5))) {
      val (w, h, mean, hist) = Multimodal.ImageDecoder.decode(bytes)
      assert((w, h) == (12, 5), s"$name dims")
      val exp = gray.map(_ & 0xff)
      assert(mean == exp.map(_.toLong).sum.toDouble / exp.length, s"$name mean")
      val expHist = new Array[Float](8)
      exp.foreach(v => expHist(v >> 5) += 1f)
      assert(hist.toSeq == expHist.map(_ / exp.length).toSeq, s"$name hist")
    }
    // container magics: the payloads really are those formats
    val bmp = Multimodal.encodeBmp(gray, 12, 5)
    assert(bmp(0) == 'B' && bmp(1) == 'M')
    val png = Multimodal.encodePng(gray, 12, 5)
    assert((png(0) & 0xff) == 0x89 && png(1) == 'P' && png(2) == 'N' && png(3) == 'G')
  }

  test("syntheticMedia: real image payloads + typed metadata schema") {
    val m = Multimodal.syntheticMedia(spark, dir)
    assert(m.schema("content").dataType.typeName == "binary")
    val rows = m.collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      if (r.media_id % 2 == 0) {
        assert(r.kind == "image/bmp" && r.content(0) == 'B' && r.content(1) == 'M')
      } else {
        assert(r.kind == "image/png" && (r.content(0) & 0xff) == 0x89)
      }
    }
  }

  test("extractFeatures: batched ImageIO decode produces pixel-exact features") {
    val media = Multimodal.syntheticMedia(spark, dir)
    val feats = Multimodal.extractFeatures(media, batchSize = 64)
    val byId = feats.collect().map(f => f.media_id -> f).toMap
    assert(byId.size == 500)
    val texts = Tables.documents(spark, dir)
      .selectExpr("doc_id", "coalesce(text, '') AS text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    byId.values.foreach { f =>
      val bytes = texts(f.media_id).getBytes("UTF-8")
      val pix = if (bytes.isEmpty) Array(0) else bytes.map(_ & 0xff)
      assert(f.height == 1 && f.width == pix.length, s"dims of ${f.media_id}")
      assert(f.mean_intensity == pix.map(_.toLong).sum.toDouble / pix.length,
        s"mean of ${f.media_id}")
      assert(f.feature.length == 8 && math.abs(f.feature.sum - 1.0f) < 1e-3,
        "normalized 8-bin histogram")
    }
    // determinism across batch sizes
    val again = Multimodal.extractFeatures(media, batchSize = 7).collect()
    assert(byId.keys.toSeq.sorted.map(byId(_).mean_intensity) ==
      again.sortBy(_.media_id).map(_.mean_intensity).toSeq)
  }

  test("featureFrame: compact output, no binary column leaves the plan") {
    val df = Multimodal.featureFrame(spark, dir)
    assert(!df.schema.fields.exists(_.dataType.typeName == "binary"))
    assert(df.count() == 500)
  }

  test("dHash: invariant under uniform brightness shift") {
    import spark.implicits._
    val gray = Array.tabulate(120)(i => ((i * 37) % 100).toByte)
    val brighter = gray.map(b => (b + 80).toByte) // stays < 256, gradients intact
    val media = Seq(
      MediaRow(1L, "image/bmp", Multimodal.encodeBmp(gray, 120, 1), "s", 120L),
      MediaRow(2L, "image/bmp", Multimodal.encodeBmp(brighter, 120, 1), "s", 120L)).toDS()
    val fps = Multimodal.dHash(media).collect().sortBy(_.media_id)
    assert(fps(0).dhash == fps(1).dhash)
    assert(fps(0).dhash != 0L)
  }

  test("dHash: BMP and PNG containers of the same pixels hash identically") {
    import spark.implicits._
    val gray = "the quick brown fox jumps over the lazy dog again".getBytes("UTF-8")
    val media = Seq(
      MediaRow(1L, "image/bmp", Multimodal.encodeBmp(gray, gray.length, 1), "s", 1L),
      MediaRow(2L, "image/png", Multimodal.encodePng(gray, gray.length, 1), "s", 1L)).toDS()
    val fps = Multimodal.dHash(media).collect().sortBy(_.media_id)
    assert(fps(0).dhash == fps(1).dhash)
  }

  test("dHash: small perturbation flips few bits; unrelated images differ widely") {
    import spark.implicits._
    val base = "join a filter window row join stream customer data group sort merge fast".getBytes("UTF-8")
    val tweaked = base.clone(); tweaked(0) = 'z'; tweaked(1) = 'z'
    val other = "zzzz aaaa zzzz aaaa zzzz aaaa zzzz aaaa zzzz aaaa zzzz aaaa zzzz aaaa zz".getBytes("UTF-8")
    val media = Seq(
      MediaRow(1L, "image/bmp", Multimodal.encodeBmp(base, base.length, 1), "s", 1L),
      MediaRow(2L, "image/bmp", Multimodal.encodeBmp(tweaked, tweaked.length, 1), "s", 1L),
      MediaRow(3L, "image/bmp", Multimodal.encodeBmp(other, other.length, 1), "s", 1L)).toDS()
    val f = Multimodal.dHash(media).collect().sortBy(_.media_id).map(_.dhash)
    assert(java.lang.Long.bitCount(f(0) ^ f(1)) <= 3)
    assert(java.lang.Long.bitCount(f(0) ^ f(2)) > 10)
  }

  test("dHash: single-pixel image hashes to zero") {
    import spark.implicits._
    val media = Seq(
      MediaRow(1L, "image/bmp", Multimodal.encodeBmp(Array[Byte](0), 1, 1), "s", 0L)).toDS()
    assert(Multimodal.dHash(media).collect().head.dhash == 0L)
  }

  test("audio: PCM16 roundtrip features match a hand computation") {
    import spark.implicits._
    val docs = Seq((1L, "ab"), (2L, ""), (3L, "x")).toDF("doc_id", "text")
    val feats = Multimodal.audioFeatures(Multimodal.audioFrom(docs))
      .collect().map(f => f.media_id -> f).toMap
    def sample(cp: Int) = (cp * 523) % 2048 - 1024
    val (sa, sb) = (sample('a'), sample('b'))
    assert(feats(1L).n_samples == 2L && feats(1L).n_windows == 1L)
    assert(feats(1L).peak_amp == math.max(math.abs(sa), math.abs(sb)).toLong)
    assert(feats(1L).total_energy == sa.toLong * sa + sb.toLong * sb)
    assert(feats(1L).zero_crossings == (if (sa * sb < 0) 1L else 0L))
    assert(feats(2L) == Multimodal.AudioFeatures(2L, 0L, 0L, 0L, 0L, 0L))
    assert(feats(3L).n_samples == 1L && feats(3L).zero_crossings == 0L)
    // payload is genuine little-endian int16
    val bytes = Multimodal.audioFrom(docs.filter($"doc_id" === 3L))
      .collect().head.content
    val s = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getShort(0).toInt
    assert(s == sample('x'))
  }

  test("sceneCuts: SAD diffs, threshold gate, partial-frame drop") {
    import spark.implicits._
    // 3 full 4-byte frames + 2 trailing bytes (dropped): frame 1 equals
    // frame 0 (diff 0), frame 2 shifts every byte by +10 (diff 40)
    val payload = Array[Byte](1, 2, 3, 4, 1, 2, 3, 4, 11, 12, 13, 14, 9, 9)
    val media = Seq(Multimodal.VideoRow(7L, payload)).toDS()
    val diffs = Multimodal.sceneCuts(media, frameBytes = 4, threshold = 20L)
      .collect().sortBy(_.frame_idx)
    assert(diffs.map(d => (d.frame_idx, d.diff, d.is_cut)).toSeq ==
      Seq((1, 0L, 0), (2, 40L, 1)))
    // unsigned byte arithmetic: 0xFF vs 0x00 differs by 255, not -1
    val hi = Seq(Multimodal.VideoRow(8L,
      Array[Byte](0, 0.toByte, -1, -1))).toDS() // frames [0,0] and [255,255]
    val d2 = Multimodal.sceneCuts(hi, frameBytes = 2, threshold = 100L).collect()
    assert(d2.map(d => (d.diff, d.is_cut)).toSeq == Seq((510L, 1)))
    // fewer than two full frames: no pairs
    val short = Seq(Multimodal.VideoRow(9L, Array[Byte](1, 2, 3))).toDS()
    assert(Multimodal.sceneCuts(short, frameBytes = 4, threshold = 1L)
      .collect().isEmpty)
  }

  test("byteSignature: pixel samples equal the caption's centered chars") {
    import spark.implicits._
    val text = "hello alignment world"
    val docs = Seq((2L, text, "s", text.length.toLong),
      (3L, text, "s", text.length.toLong)) // BMP (even) and PNG (odd)
      .toDF("doc_id", "text", "source", "n_chars")
    val sigs = Multimodal.byteSignature(Multimodal.mediaFrom(docs))
      .collect().map(r => r.media_id -> r).toMap
    val L = text.length
    val expect = (0 until 32).map(j => (text.charAt(j * L / 32) - 96).toDouble)
    Seq(2L, 3L).foreach { id =>
      assert(sigs(id).n_pixels == L.toLong)
      assert(sigs(id).sig.toSeq == expect, s"container $id decodes to caption bytes")
    }
  }

  test("audioFrameEnergies: per-frame Σs², partial last frame, empty clip") {
    import spark.implicits._
    val docs = Seq((1L, "abcde"), (2L, "")).toDF("doc_id", "text")
    def sample(cp: Int) = (cp * 523) % 2048 - 1024
    val fr = Multimodal
      .audioFrameEnergies(Multimodal.audioFrom(docs), frameSamples = 2)
      .collect().groupBy(_.media_id)
    val s = "abcde".map(c => sample(c.toInt).toLong)
    // frames of 2 samples: [a,b], [c,d], [e] (partial — zero padding)
    assert(fr(1L).sortBy(_.frame_idx).map(f => (f.frame_idx, f.energy)).toSeq ==
      Seq((1L, s(0) * s(0) + s(1) * s(1)), (2L, s(2) * s(2) + s(3) * s(3)),
        (3L, s(4) * s(4))))
    assert(!fr.contains(2L), "empty clip emits no frames")
    // frame energies partition the clip total exactly
    val tot = Multimodal.audioFeatures(Multimodal.audioFrom(docs))
      .collect().find(_.media_id == 1L).get.total_energy
    assert(fr(1L).map(_.energy).sum == tot)
  }
}
