package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, processed batch-at-a-time inside
  * `mapPartitions` (the Scala analog of a pandas UDF over
  * `mapInPandas`: fixed-size batches through a per-batch kernel,
  * no per-row interpreter round trips).
  *
  * The decode kernel is REAL (round-5 upgrade from the disclosed
  * FakeDecoder stub): payloads are genuine BMP and PNG image bytes —
  * BMP hand-assembled (the 54-byte header + padded BGR rows are
  * byte-deterministic), PNG via the JDK's own `javax.imageio` writer —
  * and [[ImageDecoder]] decodes them with `ImageIO.read`, a pure-JVM
  * codec that ships in every JDK. Features are computed from DECODED
  * PIXELS, never from container bytes, so the oracle twin stays exact
  * even for PNG, whose deflate stream is zlib-implementation-shaped.
  * Swapping in heavier codecs (JPEG via the same ImageIO call, video
  * via JavaCV) changes only the kernel body — every schema,
  * partitioning, and batching decision here carries over unchanged.
  */
object Multimodal {

  // In-memory streams only — never let ImageIO spill scratch files.
  ImageIO.setUseCache(false)

  /** One media asset: opaque payload + typed metadata. */
  final case class MediaRow(
      media_id: Long, kind: String, content: Array[Byte],
      source: String, declared_len: Long)

  final case class MediaFeatures(
      media_id: Long, kind: String, n_bytes: Int,
      width: Int, height: Int, mean_intensity: Double,
      feature: Array[Float])

  /** Minimal 24-bit bottom-up BMP encoder for grayscale pixels
    * (`gray.length == width*height`, row-major top-down input). Every
    * byte of the output is determined by the pixels — no compressor,
    * no library versioning — which is why the fixtures' even rows use
    * it: the container itself is reproducible, not just the decode.
    */
  def encodeBmp(gray: Array[Byte], width: Int, height: Int): Array[Byte] = {
    require(width > 0 && height > 0 && gray.length == width * height,
      s"bad BMP shape: ${gray.length} pixels for ${width}x$height")
    val rowSize = (width * 3 + 3) / 4 * 4
    val fileSize = 54 + rowSize * height
    val out = new Array[Byte](fileSize)
    def putInt(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte
      out(off + 1) = ((v >> 8) & 0xff).toByte
      out(off + 2) = ((v >> 16) & 0xff).toByte
      out(off + 3) = ((v >> 24) & 0xff).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    putInt(2, fileSize); putInt(10, 54)
    putInt(14, 40); putInt(18, width); putInt(22, height)
    out(26) = 1; out(28) = 24
    putInt(34, rowSize * height)
    var y = 0
    while (y < height) { // file rows run bottom-up
      var x = 0
      while (x < width) {
        val v = gray((height - 1 - y) * width + x)
        val off = 54 + y * rowSize + x * 3
        out(off) = v; out(off + 1) = v; out(off + 2) = v
        x += 1
      }
      y += 1
    }
    out
  }

  /** 8-bit grayscale PNG via the JDK's ImageIO writer. Lossless, so
    * decoded samples equal `gray` exactly; the compressed BYTES are
    * zlib-shaped and must never be oracle-compared (pixels only).
    */
  def encodePng(gray: Array[Byte], width: Int, height: Int): Array[Byte] = {
    require(width > 0 && height > 0 && gray.length == width * height,
      s"bad PNG shape: ${gray.length} pixels for ${width}x$height")
    val img = new BufferedImage(width, height, BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setDataElements(0, 0, width, height, gray)
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** REAL image decode: `ImageIO.read` sniffs the container (BMP, PNG,
    * JPEG, GIF — whatever the JDK registry knows), then features come
    * from raster samples of band 0 (fixtures are grayscale, so any
    * band). Returns (width, height, mean intensity, 8-bin normalized
    * intensity histogram).
    */
  object ImageDecoder {
    def decode(bytes: Array[Byte]): (Int, Int, Double, Array[Float]) = {
      val img = ImageIO.read(new ByteArrayInputStream(bytes))
      require(img != null, "undecodable image payload")
      val w = img.getWidth
      val h = img.getHeight
      val raster = img.getRaster
      val hist = new Array[Float](8)
      var sum = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = raster.getSample(x, y, 0)
          sum += v
          hist(v >> 5) += 1f
          x += 1
        }
        y += 1
      }
      val n = w.toLong * h
      (w, h, sum.toDouble / n, hist.map(_ / n.toFloat))
    }
  }

  /** Batched feature extraction: iterate each partition in fixed-size
    * batches (mirrors Arrow record-batch shape), run the decode kernel
    * per batch. Wide payloads never leave the executor; output is the
    * compact feature row.
    */
  def extractFeatures(media: Dataset[MediaRow], batchSize: Int = 256): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // per-batch setup would pre-allocate codec state here
        batch.iterator.map { m =>
          val (w, h, mean, feat) = ImageDecoder.decode(m.content)
          MediaFeatures(m.media_id, m.kind, m.content.length, w, h, mean, feat)
        }
      }
    }
  }

  /** Deterministic media corpus derived from `documents`: each doc's
    * UTF-8 bytes become the grayscale pixel row of a REAL 1×N image —
    * even ids as hand-assembled BMP, odd ids as ImageIO-written PNG —
    * so the decode path downstream exercises two genuine containers.
    * Empty text gets one zero pixel (zero-width images are invalid in
    * both formats).
    */
  def syntheticMedia(spark: SparkSession, dir: String): Dataset[MediaRow] =
    mediaFrom(
      graft.Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"), col("source"), col("n_chars")))

  /** [[syntheticMedia]] over an arbitrary `(doc_id, text, source,
    * n_chars)` frame — lets callers encode perturbed corpora (the
    * image near-dup query's planted variants) through the same real
    * BMP/PNG containers.
    */
  def mediaFrom(docs: DataFrame): Dataset[MediaRow] = {
    import docs.sparkSession.implicits._
    docs
      .as[(Long, String, String, Long)]
      .map { case (id, text, source, nChars) =>
        val bytes = Option(text).getOrElse("").getBytes("UTF-8")
        val gray = if (bytes.isEmpty) Array[Byte](0) else bytes
        val (kind, content) =
          if (id % 2 == 0) ("image/bmp", encodeBmp(gray, gray.length, 1))
          else ("image/png", encodePng(gray, gray.length, 1))
        MediaRow(id, kind, content, source, nChars)
      }
  }

  final case class DHashRow(media_id: Long, dhash: Long, n_pixels: Int)

  /** Difference-hash perceptual fingerprint (the classic dHash:
    * Krawetz's "kind of like that" gradient hash): decode → flatten
    * the raster row-major → nearest-neighbor sample `n = min(64, L)`
    * pixels (`s[x] = p[x·L/n]`, the integer arithmetic of [[resize]])
    * → bit x = (s[x] < s[x+1]) for x in 0..n−2, packed little-endian
    * into ≤63 bits (BIGINT-safe). Robust to uniform brightness/
    * contrast shifts (gradients survive), which is what makes it the
    * standard image near-dup signature; integer-only, so a SQL oracle
    * restates it from the source bytes exactly.
    */
  def dHash(media: Dataset[MediaRow], batchSize: Int = 256): Dataset[DHashRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { m =>
          val img = ImageIO.read(new ByteArrayInputStream(m.content))
          require(img != null, "undecodable image payload")
          val (w, h) = (img.getWidth, img.getHeight)
          val raster = img.getRaster
          val len = w * h
          val p = new Array[Int](len)
          var i = 0
          while (i < len) { p(i) = raster.getSample(i % w, i / w, 0); i += 1 }
          val n = math.min(64, len)
          var hash = 0L
          var x = 0
          while (x < n - 1) {
            if (p(x * len / n) < p((x + 1) * len / n)) hash |= 1L << x
            x += 1
          }
          DHashRow(m.media_id, hash, len)
        }
      }
    }
  }

  final case class ImageSig(media_id: Long, n_pixels: Long, sig: Array[Double])

  /** Mean-centered sampled-byte signature from DECODED pixels: the
    * dHash nearest-neighbor sampling (`p[j·L/points]`, integer index
    * arithmetic) centered at 96 so cosine between signatures
    * discriminates content instead of the shared byte-value mean —
    * the image-side embedding of the image↔text alignment gate.
    * Doubles hold exact small integers; all comparisons downstream
    * are fixed-order IEEE.
    */
  def byteSignature(
      media: Dataset[MediaRow], points: Int = 32,
      batchSize: Int = 256): Dataset[ImageSig] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { m =>
          val img = ImageIO.read(new ByteArrayInputStream(m.content))
          require(img != null, "undecodable image payload")
          val (w, h) = (img.getWidth, img.getHeight)
          val raster = img.getRaster
          val len = w * h
          val sig = new Array[Double](points)
          var j = 0
          while (j < points) {
            val idx = j * len / points
            sig(j) = (raster.getSample(idx % w, idx / w, 0) - 96).toDouble
            j += 1
          }
          ImageSig(m.media_id, len.toLong, sig)
        }
      }
    }
  }

  // ------------------------------------------------------------------
  // Audio: PCM16 payloads. The CODEC stays trivial by design (the
  // container libs aren't here — a real pipeline swaps parsePcm16 for
  // an MP3/FLAC frame decoder with the identical batch shape); the
  // Spark-side plumbing — binary column, typed batches, integer
  // window features — is real and the feature math is exact.

  final case class AudioRow(media_id: Long, content: Array[Byte])
  final case class AudioFeatures(
      media_id: Long, n_samples: Long, n_windows: Long, peak_amp: Long,
      total_energy: Long, zero_crossings: Long)

  /** Synthetic PCM16-LE payloads from the documents corpus: sample i
    * is a fixed integer spread of the text's i-th CODE POINT
    * (cp·523 mod 2048 − 1024 ∈ int16), so the DuckDB oracle restates
    * every sample from the text with `unicode()` while the engine
    * round-trips genuine little-endian PCM bytes.
    */
  def audioFrom(docs: DataFrame): Dataset[AudioRow] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val cps = Option(text).getOrElse("").codePoints().toArray
        val bytes = new Array[Byte](cps.length * 2)
        var i = 0
        while (i < cps.length) {
          val s = (cps(i) * 523) % 2048 - 1024
          bytes(2 * i) = (s & 0xff).toByte
          bytes(2 * i + 1) = ((s >> 8) & 0xff).toByte
          i += 1
        }
        AudioRow(id, bytes)
      }
  }

  /** Batched PCM16 "decode" + integer clip features: peak amplitude,
    * total energy Σs² (≤ len·2³⁰ — BIGINT-exact), sign-change count,
    * and the 256-sample window count a framing stage would emit.
    * Payload bytes never leave the executor; output is compact rows.
    */
  def audioFeatures(media: Dataset[AudioRow], batchSize: Int = 256): Dataset[AudioFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { m =>
          val b = m.content
          val n = b.length / 2
          var peak = 0L; var energy = 0L; var zc = 0L; var prev = 0
          var i = 0
          while (i < n) {
            val s = ((b(2 * i) & 0xff) | (b(2 * i + 1) << 8)).toShort.toInt
            if (math.abs(s) > peak) peak = math.abs(s)
            energy += s.toLong * s
            if (i > 0 && prev * s < 0) zc += 1
            prev = s
            i += 1
          }
          AudioFeatures(m.media_id, n.toLong, (n + 255L) / 256L, peak, energy, zc)
        }
      }
    }
  }

  final case class FrameEnergy(media_id: Long, frame_idx: Long, energy: Long)

  /** Per-frame PCM energy (Σs² over `frameSamples`-sample frames, the
    * trailing partial frame included — missing samples contribute 0,
    * exactly a zero-padded last frame), computed INSIDE the decode
    * kernel so payload bytes never shuffle: one clip row in, compact
    * (media_id, frame_idx, energy) rows out. This is the framing stage
    * under energy-gated VAD segmentation — the downstream voiced/
    * unvoiced decision and run-length grouping are plain keyed
    * DataFrame ops on these rows. frame_idx is 1-based; energy ≤
    * frameSamples·2³⁰ — BIGINT-exact.
    */
  def audioFrameEnergies(
      media: Dataset[AudioRow], frameSamples: Int = 64,
      batchSize: Int = 256): Dataset[FrameEnergy] = {
    import media.sparkSession.implicits._
    require(frameSamples >= 1, "frameSamples must be positive")
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap { m =>
          val b = m.content
          val n = b.length / 2
          val nf = (n + frameSamples - 1) / frameSamples
          (0 until nf).iterator.map { f =>
            var energy = 0L
            var i = f * frameSamples
            val end = math.min((f + 1) * frameSamples, n)
            while (i < end) {
              val s = ((b(2 * i) & 0xff) | (b(2 * i + 1) << 8)).toShort.toInt
              energy += s.toLong * s
              i += 1
            }
            FrameEnergy(m.media_id, (f + 1).toLong, energy)
          }
        }
      }
    }
  }

  final case class VideoRow(media_id: Long, content: Array[Byte])
  final case class FrameDiff(
      media_id: Long, frame_idx: Int, diff: Long, is_cut: Int)

  /** Synthetic raw-video payloads from the documents corpus: byte i is
    * a fixed integer spread of the text's i-th code point
    * ((cp·7) mod 256), so the DuckDB oracle restates every byte from
    * the text with `unicode()` (the audioFrom recipe) while the engine
    * processes a genuine opaque binary column.
    */
  def videoFrom(docs: DataFrame): Dataset[VideoRow] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val cps = Option(text).getOrElse("").codePoints().toArray
        val bytes = new Array[Byte](cps.length)
        var i = 0
        while (i < cps.length) {
          bytes(i) = ((cps(i) * 7) % 256).toByte
          i += 1
        }
        VideoRow(id, bytes)
      }
  }

  /** Shot-boundary (scene-cut) detection over raw-frame video: the
    * classic consecutive-frame SAD signal (sum of absolute pixel
    * differences — integer-exact), computed INSIDE the decode kernel
    * so payloads never shuffle: one row in, (frames−1) compact diff
    * rows out. A real demuxer/decoder slots into the same batch shape;
    * only full frames participate (a trailing partial frame is
    * container padding). `is_cut` = diff > threshold — the hard gate a
    * frame-sampling curation stage keys on.
    */
  def sceneCuts(
      media: Dataset[VideoRow], frameBytes: Int, threshold: Long,
      batchSize: Int = 256): Dataset[FrameDiff] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap { m =>
          val full = m.content.grouped(frameBytes)
            .filter(_.length == frameBytes).toArray
          (1 until full.length).iterator.map { k =>
            var d = 0L
            var j = 0
            while (j < frameBytes) {
              d += math.abs((full(k)(j) & 0xff) - (full(k - 1)(j) & 0xff))
              j += 1
            }
            FrameDiff(m.media_id, k, d, if (d > threshold) 1 else 0)
          }
        }
      }
    }
  }

  final case class FrameKey(media_id: Long, frame_idx: Int, key: String)

  /** Sampled-frame content keys for cross-video near-dup: every
    * `everyN`-th FULL frame keyed by its exact byte content (the ids
    * join on (position, key) — aligned-copy detection, the video
    * analog of line dedup). Key derivation happens inside the decode
    * kernel; only compact (id, idx, key) rows ever shuffle.
    */
  def frameKeys(
      media: Dataset[VideoRow], frameBytes: Int, everyN: Int): Dataset[FrameKey] = {
    import media.sparkSession.implicits._
    media.flatMap { m =>
      m.content.grouped(frameBytes).zipWithIndex.collect {
        case (f, idx) if idx % everyN == 0 && f.length == frameBytes =>
          FrameKey(m.media_id, idx,
            f.map(b => (b & 0xff).toString).mkString(":"))
      }
    }
  }

  /** End-to-end demo frame: real-image corpus → batched ImageIO decode
    * → pixel-derived features. Container byte counts (PNG: zlib-
    * shaped) stay OUT of the comparable columns; width/height/mean/f0
    * are functions of decoded pixels, which the oracle restates from
    * the source text.
    */
  def featureFrame(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    extractFeatures(syntheticMedia(spark, dir))
      .toDF()
      .select(
        col("media_id"), col("kind"),
        col("width"), col("height"),
        round(col("mean_intensity"), 4).as("mean_intensity"),
        round(element_at(col("feature"), 1).cast("double"), 4).as("f0"))
      .orderBy(col("media_id"))
  }
}
