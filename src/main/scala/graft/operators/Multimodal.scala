package graft.operators

import graft.{Q, Tables => T}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling: image/audio/video as opaque binary columns
  * with typed metadata, decoded / feature-extracted via per-partition
  * batch processing.
  *
  * The container has no image/audio codecs, so the DECODE STEP IS A
  * DETERMINISTIC STUB (clearly marked below) — what is real and tested is
  * the Spark plumbing: binary schema, mapPartitions batch shape,
  * per-partition decoder initialization (the expensive part on a real
  * cluster), feature schema, and downstream aggregations. Swapping the
  * stub for a JNI/codec call changes no plan shape.
  *
  * The stub derives metadata from the MD5 of the payload — an
  * engine-portable definition, so the decode path itself is
  * oracle-checkable (m02/m03): DuckDB recomputes the same widths/heights/
  * frame counts from md5(text).
  *
  * Scale: decode runs per-partition with one decoder instance per
  * partition (not per row); binary payloads never shuffle — features are
  * extracted first and only the (id, features) projection moves.
  */
object Multimodal {

  case class MediaRow(media_id: Long, kind: String, payload: Array[Byte])
  case class MediaFeatures(
      media_id: Long, kind: String, n_bytes: Int,
      width: Int, height: Int, n_frames: Int,
      feature: Array[Float])

  /** STUB decoder: derives deterministic pseudo-metadata from the MD5 of
    * the payload. A real implementation would decode image dimensions /
    * audio duration / video frames here; everything around it is
    * production plumbing. Definition (mirrored by the SQL oracles):
    * h1/h2/h3 = hex md5 substrings [0,12)/[12,24)/[24,32) as integers;
    *   image: (64 + h1 % 4032, 64 + h2 % 4032, 1)
    *   video: (64 + h1 % 1856, 64 + h2 % 1016, 1 + h3 % 299)
    *   audio: (0, 0, 1 + h3 % 999). */
  private[operators] def decodeStub(md: java.security.MessageDigest,
      kind: String, payload: Array[Byte]): (Int, Int, Int) = {
    md.reset()
    val hex = md.digest(payload).map("%02x".format(_)).mkString
    val h1 = java.lang.Long.parseLong(hex.substring(0, 12), 16)
    val h2 = java.lang.Long.parseLong(hex.substring(12, 24), 16)
    val h3 = java.lang.Long.parseLong(hex.substring(24, 32), 16)
    kind match {
      case "image" => ((64 + h1 % 4032).toInt, (64 + h2 % 4032).toInt, 1)
      case "video" => ((64 + h1 % 1856).toInt, (64 + h2 % 1016).toInt,
        (1 + h3 % 299).toInt)
      case _       => (0, 0, (1 + h3 % 999).toInt)
    }
  }

  /** STUB feature extractor: 8-dim float embedding from byte n-grams —
    * stands in for a vision/audio model forward pass. */
  private[operators] def featurizeStub(payload: Array[Byte]): Array[Float] = {
    val out = new Array[Float](8)
    var i = 0
    while (i < payload.length) {
      out(i % 8) += (payload(i) & 0xff) / 255.0f
      i += 1
    }
    val n = math.max(payload.length / 8, 1)
    out.map(_ / n)
  }

  /** The real plumbing: Dataset[MediaRow] → Dataset[MediaFeatures] via
    * mapPartitions with per-partition decoder setup. */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition init happens HERE (decoder/model load on a real cluster)
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        val (w, h, frames) = decodeStub(md, r.kind, r.payload)
        MediaFeatures(r.media_id, r.kind, r.payload.length, w, h, frames,
          featurizeStub(r.payload))
      }
    }
  }

  /** Frame sampling plumbing: one row per sampled frame index
    * (video → every `stride`-th frame), schema-preserving flatMap. */
  def sampleFrames(media: Dataset[MediaRow], stride: Int): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.flatMap { r =>
        val (_, _, frames) = decodeStub(md, r.kind, r.payload)
        (0 until frames by stride).map(i => (r.media_id, r.kind, i))
      }
    }.toDF("media_id", "kind", "frame_index")
  }

  /** documents.text reinterpreted as binary payloads — exercises the
    * binary column path end-to-end on the driver's tables. */
  def mediaFromDocuments(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    T.documents(s, dir)
      .select(col("doc_id").as("media_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
        col("text").cast("binary").as("payload"))
      .as[MediaRow]
  }

  /** Shared oracle fragment: per-document kind + md5-derived h1/h2/h3. */
  private val mediaCte: String =
    """WITH h AS (
      |  SELECT doc_id,
      |    CASE cast(doc_id % 3 AS INT) WHEN 0 THEN 'image'
      |         WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
      |    length(text) AS n_bytes,
      |    CAST('0x' || substr(md5(text), 1, 12) AS BIGINT) AS h1,
      |    CAST('0x' || substr(md5(text), 13, 12) AS BIGINT) AS h2,
      |    CAST('0x' || substr(md5(text), 25, 8) AS BIGINT) AS h3
      |  FROM documents)""".stripMargin

  /** Binary plumbing stats — byte length and kind assignment are
    * engine-independent. */
  val m01 = Q("m01_media_stats",
    """SELECT CASE cast(doc_id % 3 AS INT) WHEN 0 THEN 'image'
      |            WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
      |  count(*) AS n, cast(sum(length(text)) AS BIGINT) AS total_bytes
      |FROM documents GROUP BY 1 ORDER BY kind""".stripMargin) { (s, dir) =>
    import s.implicits._
    extractFeatures(mediaFromDocuments(s, dir)).toDF()
      .groupBy("kind")
      .agg(count(lit(1)).as("n"), sum(col("n_bytes")).as("total_bytes"))
      .orderBy("kind")
  }

  /** Decoded metadata through the mapPartitions path — oracle-checked
    * because the stub's md5 derivation is engine-portable. The float
    * feature vector is exercised by MultimodalSpec (not SQL-expressible). */
  val m02 = Q("m02_media_features",
    s"""$mediaCte
       |SELECT doc_id AS media_id, kind, n_bytes,
       |  CASE kind WHEN 'image' THEN 64 + h1 % 4032
       |            WHEN 'video' THEN 64 + h1 % 1856 ELSE 0 END AS width,
       |  CASE kind WHEN 'image' THEN 64 + h2 % 4032
       |            WHEN 'video' THEN 64 + h2 % 1016 ELSE 0 END AS height,
       |  CASE kind WHEN 'image' THEN 1
       |            WHEN 'video' THEN 1 + h3 % 299
       |            ELSE 1 + h3 % 999 END AS n_frames
       |FROM h ORDER BY media_id""".stripMargin) { (s, dir) =>
    extractFeatures(mediaFromDocuments(s, dir)).toDF()
      .select("media_id", "kind", "n_bytes", "width", "height", "n_frames")
      .orderBy("media_id")
  }

  /** Frame sampling fan-out: every 30th frame index of each video. */
  val m03 = Q("m03_frame_sample",
    s"""$mediaCte
       |SELECT media_id, kind, unnest(range(0, n_frames, 30)) AS frame_index
       |FROM (SELECT doc_id AS media_id, kind,
       |        CAST(1 + h3 % 299 AS BIGINT) AS n_frames
       |      FROM h WHERE kind = 'video') v
       |ORDER BY media_id, frame_index""".stripMargin) { (s, dir) =>
    sampleFrames(mediaFromDocuments(s, dir).filter(col("kind") === "video"), 30)
      .orderBy("media_id", "frame_index")
  }

  // ------------------------------------------------- real image codecs

  /** REAL image decode (round 11): the container's JDK ships
    * `javax.imageio` (java.desktop — PNG/JPEG/BMP/GIF, headless-safe),
    * so the IMAGE arm of the multimodal family runs a real codec, not
    * the md5 stub: payloads are actual PNG bytes, the decoder is
    * `ImageIO.read`, features come from decoded pixels, and resize is a
    * real raster rescale re-encoded to PNG. Audio/video stay stubbed
    * (no such codecs in the JDK), unchanged above.
    *
    * Oracle strategy: the fixture generator writes a w×h gray image
    * with pixel value g(x,y) = (31·id + 7·x + 13·y) mod 256 and
    * dimensions w = 4 + id mod 13, h = 3 + id mod 7. PNG is LOSSLESS,
    * so decode must recover exact pixels — the oracle recomputes
    * width/height/Σg straight from the formula without touching a
    * codec, and any decoder/encoder corruption breaks the hash. */
  case class ImageRow(media_id: Long, payload: Array[Byte])
  case class ImageMeta(media_id: Long, width: Int, height: Int,
      n_bytes: Int, sum_lum: Long, feature: Array[Float])

  private def imgDims(id: Long): (Int, Int) =
    ((4 + id % 13).toInt, (3 + id % 7).toInt)

  private[operators] def pngFromSpec(id: Long): Array[Byte] = {
    val (w, h) = imgDims(id)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val g = ((31 * id + 7 * x + 13 * y) % 256).toInt
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** One real PNG per document id — the binary-ingest fixture,
    * synthesized per-partition ONCE per corpus dir and served from the
    * cross-session fixture cache afterwards (MediaFixtures: in
    * production these bytes are input data read from storage; queries
    * should time decode, not fixture encode). */
  def imagesFromDocuments(s: SparkSession, dir: String): Dataset[ImageRow] = {
    import s.implicits._
    graft.plans.MediaFixtures.table(s, dir, "images_png", 1) {
      T.documents(s, dir).select(col("doc_id").as("media_id")).as[Long]
        .mapPartitions { ids =>
          System.setProperty("java.awt.headless", "true")
          ids.map(id => ImageRow(id, pngFromSpec(id)))
        }.toDF()
    }.as[ImageRow]
  }

  /** Real decode: ImageIO per partition; features from decoded pixels
    * (Σ luminance as the oracle-checkable scalar, an 8-bin luminance
    * histogram as the float feature the spec exercises). */
  def decodeImages(images: Dataset[ImageRow]): Dataset[ImageMeta] = {
    import images.sparkSession.implicits._
    images.mapPartitions { rows =>
      System.setProperty("java.awt.headless", "true")
      rows.map { r =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(r.payload))
        require(img != null, s"undecodable image payload ${r.media_id}")
        val (w, h) = (img.getWidth, img.getHeight)
        var sum = 0L
        val hist = new Array[Float](8)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val lum = img.getRGB(x, y) & 0xff // gray: B == G == R
            sum += lum
            hist(lum >> 5) += 1f
            x += 1
          }
          y += 1
        }
        val n = (w * h).toFloat
        ImageMeta(r.media_id, w, h, r.payload.length, sum,
          hist.map(_ / n))
      }
    }
  }

  /** Real resize: scale the longest side to `maxDim` (never upscale),
    * integer floor dims mirrored by the SQL oracle, bilinear raster
    * rescale, re-encode to PNG. Returns the new payload plus its
    * decode-verified dimensions. */
  def resizeImages(images: Dataset[ImageRow], maxDim: Int): DataFrame = {
    import images.sparkSession.implicits._
    images.mapPartitions { rows =>
      System.setProperty("java.awt.headless", "true")
      rows.map { r =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(r.payload))
        val (w, h) = (img.getWidth, img.getHeight)
        val mx = math.max(w, h)
        val (nw, nh) =
          if (mx <= maxDim) (w, h)
          else (math.max(1, w * maxDim / mx), math.max(1, h * maxDim / mx))
        val out = new java.awt.image.BufferedImage(nw, nh,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g2 = out.createGraphics()
        g2.setRenderingHint(
          java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g2.drawImage(img, 0, 0, nw, nh, null)
        g2.dispose()
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(out, "png", bos)
        val bytes = bos.toByteArray
        val back = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes))
        (r.media_id, back.getWidth, back.getHeight, bytes)
      }
    }.toDF("media_id", "width", "height", "payload")
  }

  /** Real PNG encode → ImageIO decode round trip, oracle-exact: the
    * oracle recomputes dimensions and the exact pixel-luminance sum
    * from the generation formula (PNG is lossless — a single wrong
    * pixel anywhere breaks the hash). */
  val m04 = Q("m04_image_decode",
    """SELECT doc_id AS media_id,
      |  CAST(4 + doc_id % 13 AS INT) AS width,
      |  CAST(3 + doc_id % 7 AS INT) AS height,
      |  CAST(list_sum(flatten([[ (31 * doc_id + 7 * x + 13 * y) % 256
      |        for y in range(0, 3 + doc_id % 7)]
      |        for x in range(0, 4 + doc_id % 13)])) AS BIGINT) AS sum_lum
      |FROM documents ORDER BY media_id""".stripMargin) { (s, dir) =>
    decodeImages(imagesFromDocuments(s, dir)).toDF()
      .select("media_id", "width", "height", "sum_lum")
      .orderBy("media_id")
  }

  /** Real raster resize, dimension contract oracle-checked (pixel
    * content of a resample is interpolation-defined, asserted in
    * MultimodalSpec instead). maxDim 8 downsizes the wider fixtures. */
  val m05 = Q("m05_image_resize",
    """SELECT doc_id AS media_id,
      |  CAST(CASE WHEN greatest(4 + doc_id % 13, 3 + doc_id % 7) <= 8
      |    THEN 4 + doc_id % 13
      |    ELSE greatest(1, (4 + doc_id % 13) * 8
      |           // greatest(4 + doc_id % 13, 3 + doc_id % 7)) END AS INT)
      |    AS width,
      |  CAST(CASE WHEN greatest(4 + doc_id % 13, 3 + doc_id % 7) <= 8
      |    THEN 3 + doc_id % 7
      |    ELSE greatest(1, (3 + doc_id % 7) * 8
      |           // greatest(4 + doc_id % 13, 3 + doc_id % 7)) END AS INT)
      |    AS height
      |FROM documents ORDER BY media_id""".stripMargin) { (s, dir) =>
    resizeImages(imagesFromDocuments(s, dir), maxDim = 8)
      .select("media_id", "width", "height")
      .orderBy("media_id")
  }

  // ------------------------------------------------- real audio codec

  /** REAL audio decode (round 11): `javax.sound.sampled` (java.desktop,
    * same JDK module as imageio) reads WAV — uncompressed 16-bit PCM,
    * LOSSLESS — so the audio arm gets the same treatment as the image
    * arm: real encode at ingest, real `AudioSystem` decode in the
    * operator, and an oracle that recomputes frame count and the exact
    * sample sum from the generation formula without touching a codec.
    * Fixture: mono 8 kHz, n = 100 + id mod 50 frames, little-endian
    * sample s(i) = ((13·id + 7·i) mod 65536) − 32768. */
  case class AudioRow(media_id: Long, payload: Array[Byte])
  case class AudioMeta(media_id: Long, n_frames: Long, sample_rate: Int,
      channels: Int, sum_samples: Long)

  private[operators] def wavFromSpec(id: Long): Array[Byte] = {
    val n = (100 + id % 50).toInt
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = (((13 * id + 7 * i) % 65536) - 32768).toInt
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  def audioFromDocuments(s: SparkSession, dir: String): Dataset[AudioRow] = {
    import s.implicits._
    T.documents(s, dir).select(col("doc_id").as("media_id")).as[Long]
      .mapPartitions(ids => ids.map(id => AudioRow(id, wavFromSpec(id))))
  }

  /** Real WAV decode per partition: header-derived format metadata plus
    * the exact PCM sample sum from the decoded stream. */
  def decodeAudio(audio: Dataset[AudioRow]): Dataset[AudioMeta] = {
    import audio.sparkSession.implicits._
    audio.mapPartitions { rows =>
      rows.map { r =>
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(r.payload))
        val fmt = in.getFormat
        val bytes = in.readAllBytes()
        var sum = 0L
        var i = 0
        while (i < bytes.length / 2) {
          sum += ((bytes(2 * i) & 0xff) | (bytes(2 * i + 1) << 8)).toShort
          i += 1
        }
        AudioMeta(r.media_id, in.getFrameLength,
          fmt.getSampleRate.toInt, fmt.getChannels, sum)
      }
    }
  }

  /** Real WAV encode → AudioSystem decode round trip, oracle-exact (PCM
    * is lossless; the oracle recomputes the exact sample sum from the
    * generation formula). */
  val m06 = Q("m06_audio_decode",
    """SELECT doc_id AS media_id,
      |  CAST(100 + doc_id % 50 AS BIGINT) AS n_frames,
      |  8000 AS sample_rate, 1 AS channels,
      |  CAST(list_sum([ (13 * doc_id + 7 * i) % 65536 - 32768
      |        for i in range(0, 100 + doc_id % 50)]) AS BIGINT)
      |    AS sum_samples
      |FROM documents ORDER BY media_id""".stripMargin) { (s, dir) =>
    decodeAudio(audioFromDocuments(s, dir)).toDF()
      .select(col("media_id"), col("n_frames"),
        col("sample_rate"), col("channels"), col("sum_samples"))
      .orderBy("media_id")
  }

  // ------------------------------------------------- real video container

  /** REAL video path (round 11): MJPEG-in-AVI — the one video format
    * expressible with JDK codecs alone. The fixture writes a real RIFF/
    * AVI container whose frames are real JPEGs (graft.functions.Riff);
    * the operator walks the container GENERICALLY (idx1 index preferred,
    * movi chunk scan fallback) and decodes ONLY the sampled frames
    * through ImageIO — index-driven selective decode, the property that
    * makes stride sampling of long videos read 1/stride of the payload
    * through the codec. JPEG is lossy, so the oracle pins structure
    * (sampled frame indexes + exact dimensions, which JPEG preserves);
    * pixel-level behavior is spec-asserted with a tolerance. */
  case class VideoRow(media_id: Long, payload: Array[Byte])

  private[operators] def aviFromSpec(id: Long): Array[Byte] = {
    val (w, h) = imgDims(id)
    val n = (1 + id % 12).toInt
    val frames = (0 until n).map { f =>
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val g = ((31 * id + 7 * x + 13 * y + 17 * f) % 256).toInt
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    graft.functions.Riff.writeAvi(frames, w, h)
  }

  def videosFromDocuments(s: SparkSession, dir: String): Dataset[VideoRow] = {
    import s.implicits._
    // fixture-cached (MediaFixtures): the ~n·6 JPEG frame encodes are
    // synthesis, not engine work; m07/m03 time the container walk and
    // the selective JPEG decode against stored payloads
    graft.plans.MediaFixtures.table(s, dir, "videos_mjpeg", 1) {
      T.documents(s, dir).select(col("doc_id").as("media_id")).as[Long]
        .mapPartitions { ids =>
          System.setProperty("java.awt.headless", "true")
          ids.map(id => VideoRow(id, aviFromSpec(id)))
        }.toDF()
    }.as[VideoRow]
  }

  /** Sample every `stride`-th frame of each real AVI: container walk +
    * per-sampled-frame JPEG decode; emits the decoded dimensions. */
  def sampleVideoFrames(videos: Dataset[VideoRow], stride: Int): DataFrame = {
    import videos.sparkSession.implicits._
    videos.mapPartitions { rows =>
      System.setProperty("java.awt.headless", "true")
      rows.flatMap { r =>
        val refs = graft.functions.Riff.frameIndex(r.payload)
        refs.indices.by(stride).iterator.map { i =>
          val img = graft.functions.Riff.decodeFrame(r.payload, refs(i))
          (r.media_id, i.toLong, img.getWidth, img.getHeight)
        }
      }
    }.toDF("media_id", "frame_index", "width", "height")
  }

  /** Real AVI write → generic container walk → per-frame JPEG decode;
    * oracle pins sampled indexes and the JPEG-exact dimensions. */
  val m07 = Q("m07_video_frames",
    """SELECT doc_id AS media_id,
      |  unnest(range(0, 1 + doc_id % 12, 3)) AS frame_index,
      |  CAST(4 + doc_id % 13 AS INT) AS width,
      |  CAST(3 + doc_id % 7 AS INT) AS height
      |FROM documents ORDER BY media_id, frame_index""".stripMargin) { (s, dir) =>
    sampleVideoFrames(videosFromDocuments(s, dir), 3)
      .orderBy("media_id", "frame_index")
  }

  // ---------------------------------------------------------------- m08

  /** Perceptual hash (aHash) from REAL decoded pixels: pool the image
    * onto a min(8,w)×min(8,h) block grid by exact integer area
    * averaging, set bit k=j·gw+i when block (i,j)'s mean exceeds the
    * global mean — compared in cross-multiplied integer form
    * (blockSum·n > totalSum·blockN), so the hash is bit-reproducible on
    * any engine, which is what lets a pure-SQL oracle recompute it from
    * the generation formula without a codec. Area pooling (not the m05
    * bilinear resample) is deliberate: resample kernels are
    * implementation-defined, integer block sums are not. */
  case class ImagePHash(media_id: Long, gw: Int, gh: Int, phash: Long)

  def perceptualHash(images: Dataset[ImageRow]): Dataset[ImagePHash] = {
    import images.sparkSession.implicits._
    images.mapPartitions { rows =>
      System.setProperty("java.awt.headless", "true")
      rows.map { r =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(r.payload))
        require(img != null, s"undecodable image payload ${r.media_id}")
        val (w, h) = (img.getWidth, img.getHeight)
        val (gw, gh) = (math.min(8, w), math.min(8, h))
        val bs = Array.ofDim[Long](gh, gw)
        val bn = Array.ofDim[Long](gh, gw)
        var tot = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val lum = (img.getRGB(x, y) & 0xff).toLong
            val (i, j) = (x * gw / w, y * gh / h)
            bs(j)(i) += lum; bn(j)(i) += 1; tot += lum
            x += 1
          }
          y += 1
        }
        val n = w.toLong * h
        var bits = 0L
        var k = 0
        var j = 0
        while (j < gh) {
          var i = 0
          while (i < gw) {
            if (bs(j)(i) * n > tot * bn(j)(i)) bits |= (1L << k)
            k += 1; i += 1
          }
          j += 1
        }
        ImagePHash(r.media_id, gw, gh, bits)
      }
    }
  }

  /** Image near-dup pairs: LSH banding over the perceptual hash —
    * 4 bands of ceil(gw·gh/4) bits keyed by (grid, band, value), so any
    * pair within Hamming ≤ 3 shares a band (pigeonhole) and the emitted
    * set at maxHamming ≤ 3 is EXACT, verified bucket-locally. Buckets
    * above `bucketCap` star-contract exactly like the text twins
    * (Dedup.cappedBucketPairs — same no-silent-caps contract). Pairs
    * only form within a (gw, gh) grid class: hashes of different grids
    * aren't comparable. */
  /** One row per (image, band) of the 4-band pHash banding — exposed so
    * the gate-scale cap guard (OracleCapGuardSpec) can audit bucket
    * sizes against the brute-force oracle's no-contraction assumption,
    * the same frame contract as Dedup.simhashChunkRows. */
  private[graft] def imageBandRows(hashes: DataFrame): DataFrame = hashes
    .withColumn("bb", expr("(gw * gh + 3) DIV 4"))
    .select(col("gw"), col("gh"),
      struct(col("media_id"), col("phash")).as("mh"),
      posexplode(expr(
        "transform(sequence(0, 3), k -> " +
          "shiftright(phash, CAST(k * bb AS INT)) & (shiftleft(1L, CAST(bb AS INT)) - 1))"))
        .as(Seq("band", "bkey")))

  def imageNearDupPairs(hashes: DataFrame, maxHamming: Int,
      bucketCap: Int = graft.operators.Dedup.DefaultBucketCap): DataFrame = {
    require(maxHamming <= 3, "4-band pigeonhole bound is Hamming <= 3")
    val buckets = imageBandRows(hashes)
      .groupBy("gw", "gh", "band", "bkey")
      .agg(collect_list(col("mh")).as("xs"))
      .filter(size(col("xs")) > 1)
    Dedup.cappedBucketPairs(buckets, "xs",
      """flatten(transform(xs, a ->
           transform(filter(xs, b -> b.media_id > a.media_id),
                     b -> struct(a, b))))""",
      """transform(filter(xs, x -> x.media_id > rep.media_id),
           x -> named_struct('a', rep, 'b', x))""",
      bucketCap)
      .select(col("p.a.media_id").as("media_a"),
        col("p.b.media_id").as("media_b"),
        expr("bit_count(p.a.phash ^ p.b.phash)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Real-decode perceptual near-dup — the image twin of d12: the
    * engine decodes actual PNG bytes and bands the pooled hash; the
    * oracle recomputes the identical hash from the pixel formula in
    * pure SQL (integer block sums, cross-multiplied mean test) and
    * brute-forces Hamming within each grid class. Any codec corruption,
    * pooling drift, or banding incompleteness breaks the row hash. */
  /** The perceptual-hash CTE chain (no leading WITH): recomputes the
    * engine's pooled aHash from the pixel formula in pure SQL, ending in
    * `hsh(media_id, gw, gh, phash)` and `ipairs(media_a, media_b,
    * hamming)` at Hamming ≤ 2 — shared by m08 and the m09 composite. */
  private[operators] val pHashCtes: String =
    """g AS (
      |  SELECT doc_id AS media_id,
      |    CAST(4 + doc_id % 13 AS INT) AS w, CAST(3 + doc_id % 7 AS INT) AS h,
      |    CAST(least(8, 4 + doc_id % 13) AS INT) AS gw,
      |    CAST(least(8, 3 + doc_id % 7) AS INT) AS gh
      |  FROM documents
      |), gj AS (
      |  SELECT media_id, gw, gh, w, h,
      |    CAST(list_sum(flatten([[ (31 * media_id + 7 * x + 13 * y) % 256
      |      for y in range(0, h)] for x in range(0, w)])) AS BIGINT) AS tot,
      |    unnest(range(0, gh)) AS j
      |  FROM g
      |), blk AS (
      |  SELECT media_id, gw, gh, w, h, tot, j, unnest(range(0, gw)) AS i
      |  FROM gj
      |), bit AS (
      |  SELECT media_id, gw, gh, j * gw + i AS k,
      |    CAST(list_sum(flatten(
      |      [[ (31 * media_id + 7 * x + 13 * y) % 256
      |         for y in range(0, h) if y * gh // h = j]
      |       for x in range(0, w) if x * gw // w = i])) AS BIGINT) AS bsum,
      |    CAST(len(flatten(
      |      [[ 1 for y in range(0, h) if y * gh // h = j]
      |       for x in range(0, w) if x * gw // w = i])) AS BIGINT) AS bn,
      |    tot, CAST(w AS BIGINT) * h AS n
      |  FROM blk
      |), hsh AS (
      |  -- bit 63 can't be built as 1<<63 (DuckDB range-checks the
      |  -- shift); add the two's-complement constant instead, summed in
      |  -- HUGEINT and cast back — identical to the engine's wrapped Long
      |  SELECT media_id, gw, gh,
      |    CAST(sum(CASE WHEN bsum * n <= tot * bn THEN 0
      |      WHEN k = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
      |      ELSE CAST(CAST(1 AS BIGINT) << k AS HUGEINT) END)
      |      AS BIGINT) AS phash
      |  FROM bit GROUP BY 1, 2, 3
      |), ipairs AS (
      |  SELECT ha.media_id AS media_a, hb.media_id AS media_b,
      |    CAST(bit_count(xor(ha.phash, hb.phash)) AS INT) AS hamming
      |  FROM hsh ha JOIN hsh hb
      |    ON ha.gw = hb.gw AND ha.gh = hb.gh AND ha.media_id < hb.media_id
      |  WHERE bit_count(xor(ha.phash, hb.phash)) <= 2
      |)""".stripMargin

  /** Perceptual-hash silver — the real PNG decode runs ONCE per
    * (session, dir) and both consumers (m08 pairs, m09 clusters) read
    * the persisted (media_id, gw, gh, phash) table, exactly what a
    * production pipeline persists after the decode pass. Built in
    * Bench's ingest phase (shared-cost rule). */
  def phashSilver(s: SparkSession, dir: String): DataFrame =
    graft.plans.SilverStore.table(s, dir, "image_phash") {
      perceptualHash(imagesFromDocuments(s, dir)).toDF()
    }

  /** m08 DEFAULT = the contracted report (same shape as m10/m11; the
    * image listing measured 162k rows at sf0.1 / ~2.4M at sf1, a 13×
    * scale ratio purely from output cardinality). Full listing stays
    * the [[imageNearDupPairs]] API. */
  val m08 = Q("m08_image_neardup",
    s"""WITH $pHashCtes,
       |icls AS (
       |  SELECT gw, gh, phash, min(media_id) AS rep, count(*) AS sz
       |  FROM hsh GROUP BY gw, gh, phash),
       |istars AS (
       |  SELECT 'star' AS kind, c.rep AS media_a, f.media_id AS media_b,
       |    0 AS hamming, CAST(NULL AS BIGINT) AS n_pairs
       |  FROM hsh f JOIN icls c
       |    ON f.gw = c.gw AND f.gh = c.gh AND f.phash = c.phash
       |  WHERE f.media_id <> c.rep),
       |inear AS (
       |  SELECT 'near' AS kind, a.rep AS media_a, b.rep AS media_b,
       |    CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming,
       |    a.sz * b.sz AS n_pairs
       |  FROM icls a JOIN icls b
       |    ON a.gw = b.gw AND a.gh = b.gh AND a.rep < b.rep
       |  WHERE bit_count(xor(a.phash, b.phash)) <= 2),
       |iclsrows AS (
       |  SELECT 'class' AS kind, rep AS media_a,
       |    CAST(NULL AS BIGINT) AS media_b, CAST(NULL AS INT) AS hamming,
       |    sz * (sz - 1) // 2 AS n_pairs
       |  FROM icls WHERE sz > 1)
       |SELECT * FROM (SELECT * FROM istars UNION ALL SELECT * FROM inear
       |  UNION ALL SELECT * FROM iclsrows)
       |ORDER BY kind, media_a, media_b""".stripMargin) { (s, dir) =>
    gridNearDupReport(phashSilver(s, dir), maxHamming = 2)
      .orderBy("kind", "media_a", "media_b")
  }

  // ---------------------------------------------------------------- m09

  /** The audio-fingerprint CTE chain (no leading WITH): recomputes the
    * engine's windowed fingerprint from the generation formula in pure
    * SQL, ending in `afp(media_id, n, fp)` and `apairs(media_a, media_b,
    * hamming)` at Hamming <= 2 — shared by m10 and the m09 composite. */
  private[operators] val audioFpCtes: String =
    """ab AS (
      |  SELECT doc_id AS media_id, doc_id - doc_id % 3 AS g,
      |    doc_id % 3 AS m, CAST(100 + (doc_id - doc_id % 3) % 50 AS INT)
      |      AS n
      |  FROM documents),
      |atot AS (
      |  SELECT media_id, n, g, m,
      |    CAST(list_sum([ (13 * g + 7 * i
      |        + CASE WHEN i % 17 = 0 THEN 97 * m ELSE 0 END) % 65536
      |        - 32768 for i in range(0, n)]) AS BIGINT) AS tot
      |  FROM ab),
      |abitk AS (
      |  SELECT media_id, n, g, m, tot, unnest(range(0, 64)) AS k
      |  FROM atot),
      |abits AS (
      |  SELECT media_id, n, k, tot,
      |    CAST(list_sum([ (13 * g + 7 * i
      |        + CASE WHEN i % 17 = 0 THEN 97 * m ELSE 0 END) % 65536
      |        - 32768 for i in range(0, n) if (i * 64) // n = k])
      |      AS BIGINT) AS wsum,
      |    CAST(len([1 for i in range(0, n) if (i * 64) // n = k])
      |      AS BIGINT) AS wn
      |  FROM abitk),
      |afp AS (
      |  SELECT media_id, n,
      |    CAST(sum(CASE WHEN wsum * n <= tot * wn THEN 0
      |      WHEN k = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
      |      ELSE CAST(CAST(1 AS BIGINT) << k AS HUGEINT) END)
      |      AS BIGINT) AS fp
      |  FROM abits GROUP BY media_id, n),
      |apairs AS (
      |  SELECT a.media_id AS media_a, b.media_id AS media_b,
      |    CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
      |  FROM afp a JOIN afp b
      |    ON a.n = b.n AND a.media_id < b.media_id
      |  WHERE bit_count(xor(a.fp, b.fp)) <= 2)""".stripMargin

  /** MULTIMODAL duplicate clusters — the composite a production dedup
    * actually runs: a document is a duplicate if its TEXT is a near-dup
    * (exact 3-shingle Jaccard ≥ 0.3, the d13/d14 relation) OR its IMAGE
    * is a perceptual near-dup (m08's banded aHash at Hamming ≤ 2); both
    * pair streams feed ONE connected-components contraction
    * (Dedup.dupClusters), so a text chain and an image chain that touch
    * merge into one group with one canonical keeper. Edge streams stay
    * narrow (id, id) pairs; the contraction is the same min-label
    * machinery every dedup family already shares. */
  def multimodalClusters(s: SparkSession, dir: String): DataFrame = {
    // exact-dup-first contraction on BOTH modalities: the text relation
    // is the star + rep-pair edge set (same components as the full
    // Jaccard pair list — see Dedup.jaccardComponentEdges), so m09 no
    // longer inherits d13's quadratic pair-output growth on dup-heavy
    // fixtures
    val textPairs = Dedup.jaccardComponentEdges(s, dir,
      Dedup.RepPairThreshold)
    // Image edges are CONNECTIVITY-preserving, not the m08 pair list:
    // an exact-equal (gw, gh, phash) class is a Hamming-0 clique, and
    // any cross-class pair has the same Hamming as its class
    // REPRESENTATIVES (equal hashes), so star edges within each class +
    // banded near-pairs between the min-id representatives reach exactly
    // the same components as the full O(n²)-per-class clique — with
    // O(n + repPairs) edges. This is the d10-before-d11 pipeline order
    // applied to images: exact dedup first, LSH over survivors.
    val hashes = phashSilver(s, dir)
    val reps = hashes.groupBy("gw", "gh", "phash")
      .agg(min("media_id").as("media_id"))
    val star = hashes
      .join(reps.withColumnRenamed("media_id", "rep"),
        Seq("gw", "gh", "phash"))
      .filter(col("media_id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("media_id").as("doc_b"))
    val repPairs = imageNearDupPairs(reps, maxHamming = 2)
      .select(col("media_a").as("doc_a"), col("media_b").as("doc_b"))
    // Audio arm (round 12): same contraction — exact-fingerprint classes
    // become stars, banding runs over the representatives only. This is
    // what keeps the composite linear when the m10 pair SET is
    // quadratic in class sizes (24.1M pairs at sf1 vs ~n edges here).
    val fps = audioFpSilver(s, dir)
    val areps = fps.groupBy("n_frames", "fp")
      .agg(min("media_id").as("media_id"))
    val astar = fps
      .join(areps.withColumnRenamed("media_id", "rep"),
        Seq("n_frames", "fp"))
      .filter(col("media_id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("media_id").as("doc_b"))
    val aPairs = audioNearDupPairs(areps, maxHamming = 2)
      .select(col("media_a").as("doc_a"), col("media_b").as("doc_b"))
    // Video arm (round 13): the fourth modality, same exact-dup-first
    // contraction — exact-fingerprint classes become stars, banding runs
    // over the representatives only.
    val vfps = videoFpSilver(s, dir)
    val vreps = vfps.groupBy("gw", "gh", "phash")
      .agg(min("media_id").as("media_id"))
    val vstar = vfps
      .join(vreps.withColumnRenamed("media_id", "rep"),
        Seq("gw", "gh", "phash"))
      .filter(col("media_id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("media_id").as("doc_b"))
    val vPairs = imageNearDupPairs(vreps, maxHamming = 2)
      .select(col("media_a").as("doc_a"), col("media_b").as("doc_b"))
    Dedup.dupClusters(
      textPairs.unionByName(star).unionByName(repPairs)
        .unionByName(astar).unionByName(aPairs)
        .unionByName(vstar).unionByName(vPairs))
  }

  /** Contracted multimodal cluster REPORT — m09's registered form (r15
    * verdict item 2), the m08/m10/m11 report recipe applied to the
    * CLUSTER output. Every edge the composite uses is determined by the
    * doc's multimodal SIGNATURE (text bytes, image (gw,gh,phash), audio
    * (n_frames,fp), video (gw,gh,phash)): signature-identical docs are
    * interchangeable in every modality's exact class and every banded
    * near-pair, so clustering runs over signature classes, not docs.
    * Three row kinds over one (kind, doc_a, doc_b, n_docs) schema:
    *   'assign' — (class rep, canonical, NULL): connected-component
    *              assignment over signature representatives. canonical
    *              = min doc_id of the full doc-level cluster (each
    *              class rep is the min of its class, so the rep-level
    *              min IS the doc-level min). A size-≥2 class whose rep
    *              touches no rep-level edge is its own cluster
    *              (rep, rep) — its members are still duplicates of each
    *              other;
    *   'size'   — (canonical, NULL, total docs): per-cluster doc count
    *              over FULL class sizes;
    *   'star'   — (class rep, member, NULL): signature-exact class
    *              membership, one row per non-rep member.
    * Lossless: the doc-level listing is exactly assign ∪ (star ⋈
    * assign) — members inherit their rep's canonical — and
    * MultimodalSpec pins that reconstruction against
    * [[multimodalClusters]], which stays the full-listing API. Work AND
    * output are O(signature classes + rep pairs) instead of O(docs) on
    * dup-heavy corpora, and the DuckDB oracle's transitive closure runs
    * over the contracted rep graph seeded at local minima (rows =
    * Σ minima×component instead of Σ component² — the all-pairs reach
    * that made the previous listing-form oracle a ~75-min grinder per
    * sf0.1 record, SCALING.md). */
  def multimodalClusterReport(s: SparkSession, dir: String): DataFrame = {
    val sig = T.documents(s, dir)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("tkey"))
      .join(phashSilver(s, dir).select(col("media_id").as("doc_id"),
        col("gw").as("igw"), col("gh").as("igh"), col("phash").as("iph")),
        "doc_id")
      .join(audioFpSilver(s, dir).select(col("media_id").as("doc_id"),
        col("n_frames").as("an"), col("fp").as("afp")), "doc_id")
      .join(videoFpSilver(s, dir).select(col("media_id").as("doc_id"),
        col("gw").as("vgw"), col("gh").as("vgh"), col("phash").as("vph")),
        "doc_id")
      .localCheckpoint() // narrow (id + keys); read by stars AND classes
    val sigCols = Seq("tkey", "igw", "igh", "iph", "an", "afp", "vgw",
      "vgh", "vph")
    val classes = sig.groupBy(sigCols.map(col): _*)
      .agg(min("doc_id").as("rep"), count(lit(1)).as("sz"))
      .localCheckpoint() // read by all four modality arms + sizes
    val stars = sig.join(classes.select((col("rep") +: col("sz") +:
        sigCols.map(col)): _*), sigCols)
      .filter(col("doc_id") =!= col("rep"))
      .select(lit("star").as("kind"), col("rep").as("doc_a"),
        col("doc_id").as("doc_b"), lit(null).cast("long").as("n_docs"))
    // Per-modality contraction over signature reps: the modality rep =
    // min class rep per modality key = the global min doc with that key
    // — the SAME vertex the doc-level composite bands, so the rep-level
    // near pairs are literally the composite's pair sets and the
    // rep-level components expand (via the signature stars) to exactly
    // the doc-level components.
    def arm(keys: Seq[String], near: DataFrame => DataFrame): DataFrame = {
      val mreps = classes.groupBy(keys.map(col): _*)
        .agg(min("rep").as("mrep"))
      val star = classes.join(mreps, keys)
        .filter(col("rep") =!= col("mrep"))
        .select(col("mrep").as("doc_a"), col("rep").as("doc_b"))
      star.unionByName(near(mreps))
    }
    val tEdges = arm(Seq("tkey"), mreps => {
      val repSh = Dedup.shingled(s, dir)
        .join(mreps.select(col("mrep").as("doc_id")), Seq("doc_id"),
          "left_semi")
      // ε = 0 like every representative path (r15 review): a binding
      // df-cap over the rep count would drop edges the oracle keeps
      Dedup.exactJaccardPairs(s, repSh, 0.3, dfCapEpsilon = 0)
        .select("doc_a", "doc_b")
    })
    val iEdges = arm(Seq("igw", "igh", "iph"), mreps =>
      imageNearDupPairs(mreps.select(col("mrep").as("media_id"),
          col("igw").as("gw"), col("igh").as("gh"),
          col("iph").as("phash")), maxHamming = 2)
        .select(col("media_a").as("doc_a"), col("media_b").as("doc_b")))
    val aEdges = arm(Seq("an", "afp"), mreps =>
      audioNearDupPairs(mreps.select(col("mrep").as("media_id"),
          col("an").as("n_frames"), col("afp").as("fp")), maxHamming = 2)
        .select(col("media_a").as("doc_a"), col("media_b").as("doc_b")))
    val vEdges = arm(Seq("vgw", "vgh", "vph"), mreps =>
      imageNearDupPairs(mreps.select(col("mrep").as("media_id"),
          col("vgw").as("gw"), col("vgh").as("gh"),
          col("vph").as("phash")), maxHamming = 2)
        .select(col("media_a").as("doc_a"), col("media_b").as("doc_b")))
    val comp = Dedup.dupClusters(
      tEdges.unionByName(iEdges).unionByName(aEdges).unionByName(vEdges))
    val lone = classes.filter(col("sz") > 1)
      .select(col("rep"))
      .join(comp.select(col("doc_id").as("rep")), Seq("rep"), "left_anti")
      .select(col("rep").as("doc_id"), col("rep").as("canonical_id"))
    val assign = comp.unionByName(lone).localCheckpoint()
    val assignRows = assign.select(lit("assign").as("kind"),
      col("doc_id").as("doc_a"), col("canonical_id").as("doc_b"),
      lit(null).cast("long").as("n_docs"))
    val sizeRows = assign
      .join(classes.select(col("rep").as("doc_id"), col("sz")), "doc_id")
      .groupBy("canonical_id").agg(sum("sz").as("n_docs"))
      .select(lit("size").as("kind"), col("canonical_id").as("doc_a"),
        lit(null).cast("long").as("doc_b"), col("n_docs"))
    stars.unionByName(assignRows).unionByName(sizeRows)
  }

  /** m09 DEFAULT = the contracted cluster report; the oracle clusters
    * the SAME contracted rep graph the engine does, with the closure
    * seeded at local minima only (a component's canonical is its min
    * id, which is always a local minimum and reaches every member), so
    * reach rows are Σ minima×component instead of the all-pairs
    * Σ component² that ground ~75 min per sf0.1 record. */
  val m09 = Q("m09_multimodal_clusters",
    s"""${graft.operators.Dedup.shingleCte
          .replaceFirst("WITH ", "WITH RECURSIVE ")},
       |$pHashCtes,
       |$audioFpCtes,
       |$videoFpCtes,
       |sig AS MATERIALIZED (
       |  SELECT d.doc_id, md5(d.text) AS tkey,
       |    h.gw AS igw, h.gh AS igh, h.phash AS iph,
       |    a.n AS an, a.fp AS afp,
       |    v.gw AS vgw, v.gh AS vgh, v.phash AS vph
       |  FROM documents d
       |  JOIN hsh h ON h.media_id = d.doc_id
       |  JOIN afp a ON a.media_id = d.doc_id
       |  JOIN vhsh v ON v.media_id = d.doc_id),
       |cls AS MATERIALIZED (
       |  SELECT tkey, igw, igh, iph, an, afp, vgw, vgh, vph,
       |    min(doc_id) AS rep, count(*) AS sz
       |  FROM sig GROUP BY 1, 2, 3, 4, 5, 6, 7, 8, 9),
       |starrows AS (
       |  SELECT 'star' AS kind, c.rep AS doc_a, s.doc_id AS doc_b,
       |    CAST(NULL AS BIGINT) AS n_docs
       |  FROM sig s JOIN cls c
       |    USING (tkey, igw, igh, iph, an, afp, vgw, vgh, vph)
       |  WHERE s.doc_id <> c.rep),
       |tcls AS MATERIALIZED (
       |  SELECT tkey, min(rep) AS mrep FROM cls GROUP BY tkey),
       |tstar AS (SELECT t.mrep AS u, c.rep AS v
       |  FROM cls c JOIN tcls t USING (tkey) WHERE c.rep <> t.mrep),
       |tsh AS MATERIALIZED (
       |  SELECT sh.doc_id, sh.s FROM sh JOIN tcls t ON sh.doc_id = t.mrep),
       |tpair AS (SELECT a.doc_id AS u, b.doc_id AS v FROM tsh a, tsh b
       |  WHERE a.doc_id < b.doc_id
       |    AND len(list_intersect(a.s, b.s)) * 10 >=
       |        3 * (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))),
       |icls AS MATERIALIZED (
       |  SELECT igw, igh, iph, min(rep) AS mrep
       |  FROM cls GROUP BY 1, 2, 3),
       |istar AS (SELECT i.mrep AS u, c.rep AS v
       |  FROM cls c JOIN icls i USING (igw, igh, iph)
       |  WHERE c.rep <> i.mrep),
       |ipair AS (SELECT a.mrep AS u, b.mrep AS v FROM icls a JOIN icls b
       |  ON a.igw = b.igw AND a.igh = b.igh AND a.mrep < b.mrep
       |  WHERE bit_count(xor(a.iph, b.iph)) <= 2),
       |acls AS MATERIALIZED (
       |  SELECT an, afp, min(rep) AS mrep FROM cls GROUP BY 1, 2),
       |astar AS (SELECT x.mrep AS u, c.rep AS v
       |  FROM cls c JOIN acls x USING (an, afp) WHERE c.rep <> x.mrep),
       |apair AS (SELECT a.mrep AS u, b.mrep AS v FROM acls a JOIN acls b
       |  ON a.an = b.an AND a.mrep < b.mrep
       |  WHERE bit_count(xor(a.afp, b.afp)) <= 2),
       |vcls AS MATERIALIZED (
       |  SELECT vgw, vgh, vph, min(rep) AS mrep
       |  FROM cls GROUP BY 1, 2, 3),
       |vstar AS (SELECT x.mrep AS u, c.rep AS v
       |  FROM cls c JOIN vcls x USING (vgw, vgh, vph)
       |  WHERE c.rep <> x.mrep),
       |vpair AS (SELECT a.mrep AS u, b.mrep AS v FROM vcls a JOIN vcls b
       |  ON a.vgw = b.vgw AND a.vgh = b.vgh AND a.mrep < b.mrep
       |  WHERE bit_count(xor(a.vph, b.vph)) <= 2),
       |redges AS MATERIALIZED (
       |  SELECT u, v FROM tstar UNION SELECT u, v FROM tpair
       |  UNION SELECT u, v FROM istar UNION SELECT u, v FROM ipair
       |  UNION SELECT u, v FROM astar UNION SELECT u, v FROM apair
       |  UNION SELECT u, v FROM vstar UNION SELECT u, v FROM vpair),
       |sym AS MATERIALIZED (
       |  SELECT u, v FROM redges UNION SELECT v, u FROM redges),
       |seeds AS (
       |  SELECT u FROM (SELECT u, min(v) AS mn FROM sym GROUP BY u)
       |  WHERE mn > u),
       |reach(root, v) AS (
       |  SELECT u, u FROM seeds
       |  UNION
       |  SELECT r.root, e.v FROM reach r JOIN sym e ON r.v = e.u),
       |comp AS MATERIALIZED (
       |  SELECT v AS rep, min(root) AS canonical FROM reach GROUP BY v),
       |assign AS MATERIALIZED (
       |  SELECT rep, canonical FROM comp
       |  UNION ALL
       |  SELECT rep, rep FROM cls
       |  WHERE sz > 1 AND rep NOT IN (SELECT rep FROM comp)),
       |assignrows AS (
       |  SELECT 'assign' AS kind, rep AS doc_a, canonical AS doc_b,
       |    CAST(NULL AS BIGINT) AS n_docs
       |  FROM assign),
       |sizerows AS (
       |  SELECT 'size' AS kind, canonical AS doc_a,
       |    CAST(NULL AS BIGINT) AS doc_b, CAST(sum(sz) AS BIGINT) AS n_docs
       |  FROM assign JOIN cls USING (rep) GROUP BY canonical)
       |SELECT * FROM (SELECT * FROM starrows
       |  UNION ALL SELECT * FROM assignrows
       |  UNION ALL SELECT * FROM sizerows)
       |ORDER BY kind, doc_a, doc_b""".stripMargin) { (s, dir) =>
    multimodalClusterReport(s, dir).orderBy("kind", "doc_a", "doc_b")
  }

  // ---------------------------------------------------------------- m10

  /** Audio fingerprint + near-dup — the AUDIO twin of m08, closing the
    * near-dup family across all three media arms (text d11-d13, image
    * m08, audio m10). Fingerprint = 64 windows of exact integer
    * area-pooled PCM means, bit k set by the cross-multiplied mean test
    * (wsum·n > tot·wn) — the same integer trick that makes the image
    * hash engine-reproducible, applied to the REAL AudioSystem-decoded
    * sample stream. The fixture plants near-dup groups: triples of ids
    * share a base sawtooth with a sparse per-member perturbation (every
    * 17th sample bumped), so fingerprints collide closely within a
    * group and the banded LSH must find them (bump constant 97 chosen
    * so within-group pairs land at Hamming 0-2 with a thin tail just
    * past the band — the boundary the oracle exercises). */
  case class AudioFp(media_id: Long, n_frames: Int, fp: Long)

  private def pcmWav(pcm: Array[Byte], frames: Int): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Near-dup audio fixture: group g = id − id%3 fixes length and base
    * signal; member m = id%3 bumps every 17th sample by 97·m (mod
    * wrap), a sparse perturbation that moves a few window means. */
  private[operators] def wavGroupFromSpec(id: Long): Array[Byte] = {
    val g = id - id % 3
    val m = id % 3
    val n = (100 + g % 50).toInt
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val bump = if (i % 17 == 0) 97L * m else 0L
      val s = (((13 * g + 7 * i + bump) % 65536) - 32768).toInt
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    pcmWav(pcm, n)
  }

  def audioGroupsFromDocuments(s: SparkSession, dir: String)
      : Dataset[AudioRow] = {
    import s.implicits._
    // fixture-cached (MediaFixtures): WAV synthesis runs once per
    // corpus dir; m06/m10 time the real AudioSystem decode
    graft.plans.MediaFixtures.table(s, dir, "audio_wav", 1) {
      T.documents(s, dir).select(col("doc_id").as("media_id")).as[Long]
        .mapPartitions(ids =>
          ids.map(id => AudioRow(id, wavGroupFromSpec(id)))).toDF()
    }.as[AudioRow]
  }

  /** Real WAV decode → 64-window integer area pooling → 64-bit
    * fingerprint. Window k of a clip with n frames covers samples i with
    * i·64/n == k (integer division), mirroring m08's block pooling. */
  def audioFingerprint(audio: Dataset[AudioRow]): Dataset[AudioFp] = {
    import audio.sparkSession.implicits._
    audio.mapPartitions { rows =>
      rows.map { r =>
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(r.payload))
        val bytes = in.readAllBytes()
        val n = bytes.length / 2
        val ws = new Array[Long](64)
        val wn = new Array[Long](64)
        var tot = 0L
        var i = 0
        while (i < n) {
          val v = ((bytes(2 * i) & 0xff) | (bytes(2 * i + 1) << 8))
            .toShort.toLong
          val k = i * 64 / n
          ws(k) += v; wn(k) += 1; tot += v
          i += 1
        }
        var bits = 0L
        var k = 0
        while (k < 64) {
          if (ws(k) * n > tot * wn(k)) bits |= (1L << k)
          k += 1
        }
        AudioFp(r.media_id, n, bits)
      }
    }
  }

  /** One row per (clip, band) of the 4×16-bit banding — same frame
    * contract as imageBandRows for the gate-scale cap guard. */
  private[graft] def audioBandRows(fps: DataFrame): DataFrame = fps
    .select(col("n_frames"),
      struct(col("media_id"), col("fp")).as("mh"),
      posexplode(expr(
        "transform(sequence(0, 3), k -> " +
          "shiftright(fp, k * 16) & 65535)"))
        .as(Seq("band", "bkey")))

  /** Audio near-dup pairs: 4-band LSH over the fingerprint within each
    * frame-length class (fingerprints of different lengths pool
    * different sample counts per window and are not comparable — the
    * audio analogue of m08's grid classes). Exact for Hamming ≤ 3 by
    * pigeonhole; hot buckets star-contract under the shared
    * no-silent-caps contract. */
  def audioNearDupPairs(fps: DataFrame, maxHamming: Int,
      bucketCap: Int = graft.operators.Dedup.DefaultBucketCap): DataFrame = {
    require(maxHamming <= 3, "4-band pigeonhole bound is Hamming <= 3")
    val buckets = audioBandRows(fps)
      .groupBy("n_frames", "band", "bkey")
      .agg(collect_list(col("mh")).as("xs"))
      .filter(size(col("xs")) > 1)
    Dedup.cappedBucketPairs(buckets, "xs",
      """flatten(transform(xs, a ->
           transform(filter(xs, b -> b.media_id > a.media_id),
                     b -> struct(a, b))))""",
      """transform(filter(xs, x -> x.media_id > rep.media_id),
           x -> named_struct('a', rep, 'b', x))""",
      bucketCap)
      .select(col("p.a.media_id").as("media_a"),
        col("p.b.media_id").as("media_b"),
        expr("bit_count(p.a.fp ^ p.b.fp)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Audio-fingerprint silver: one real decode pass per (session, dir). */
  def audioFpSilver(s: SparkSession, dir: String): DataFrame =
    graft.plans.SilverStore.table(s, dir, "audio_fp") {
      audioFingerprint(audioGroupsFromDocuments(s, dir)).toDF()
    }

  /** Contracted near-dup REPORT — the scale-safe default form of a pair
    * query whose full listing is Θ(Σ class²) in exact-fingerprint class
    * sizes (m10's measured 24.1M rows at sf1). Three row kinds over one
    * (kind, media_a, media_b, hamming, n_pairs) schema:
    *   'star'  — (class rep, member, 0, NULL): exact-equal fingerprint
    *             membership, one row per non-rep member;
    *   'near'  — (rep_a, rep_b, hamming, |A|·|B|): banded near-pair
    *             between class REPRESENTATIVES, carrying the full-listing
    *             pair count it stands for (every cross-class member pair
    *             has the representatives' Hamming — equal fingerprints);
    *   'class' — (rep, NULL, NULL, C(sz,2)): per-class within-class pair
    *             count, so the full listing's cardinality is Σ n_pairs
    *             without materializing it.
    * The report is a LOSSLESS compression: the full pair listing
    * reconstructs exactly (MultimodalSpec pins it), and output is
    * O(members of dup classes + rep pairs) instead of Θ(Σ class²).
    * `classCols` are the comparability-class keys (fingerprints across
    * classes are not comparable); `repPairs` receives the one-row-per-
    * class representative relation and returns its banded near pairs. */
  private[operators] def nearDupReport(fps: DataFrame, idCol: String,
      classCols: Seq[String], fpCol: String,
      repPairs: DataFrame => DataFrame): DataFrame = {
    val keyCols = classCols :+ fpCol
    val classes = fps.groupBy(keyCols.map(col): _*)
      .agg(min(idCol).as("rep"), count(lit(1)).as("sz"))
    val stars = fps.join(classes, keyCols)
      .filter(col(idCol) =!= col("rep"))
      .select(lit("star").as("kind"), col("rep").as("media_a"),
        col(idCol).as("media_b"), lit(0).as("hamming"),
        lit(null).cast("long").as("n_pairs"))
    val reps = classes.select(
      (col("rep").as(idCol) +: keyCols.map(col)): _*)
    val sizes = classes.select(col("rep"), col("sz"))
    val near = repPairs(reps)
      .join(sizes.select(col("rep").as("media_a"), col("sz").as("sa")),
        "media_a")
      .join(sizes.select(col("rep").as("media_b"), col("sz").as("sb")),
        "media_b")
      .select(lit("near").as("kind"), col("media_a"), col("media_b"),
        col("hamming"), (col("sa") * col("sb")).as("n_pairs"))
    val classRows = classes.filter(col("sz") > 1)
      .select(lit("class").as("kind"), col("rep").as("media_a"),
        lit(null).cast("long").as("media_b"),
        lit(null).cast("int").as("hamming"),
        expr("sz * (sz - 1) DIV 2").as("n_pairs"))
    stars.unionByName(near).unionByName(classRows)
  }

  /** Audio near-dup report: [[nearDupReport]] over the fingerprint
    * silver, rep pairs from the banded LSH. Class key = frame length
    * (the comparability class). */
  def audioNearDupReport(fps: DataFrame, maxHamming: Int): DataFrame =
    nearDupReport(fps, "media_id", Seq("n_frames"), "fp",
      reps => audioNearDupPairs(reps, maxHamming))

  /** m10 DEFAULT = the contracted report (r12 verdict item 1): the full
    * pair listing is Θ(Σ class²) BY DEFINITION when exact-equal
    * fingerprint classes are large (the fixture's sawtooth collides
    * heavily at sf1: 24.1M pairs, the round-12 bench's heaviest entry),
    * so the registered query emits class stars + representative pairs +
    * per-class counts — same information, output linear in the dup
    * structure. [[audioNearDupPairs]] remains the full-listing API
    * (spec-pinned equal to the report's reconstruction); cluster
    * consumers (m09) already take the star-contracted edges. */
  val m10 = Q("m10_audio_neardup",
    s"""WITH $audioFpCtes,
       |acls AS (
       |  SELECT n, fp, min(media_id) AS rep, count(*) AS sz
       |  FROM afp GROUP BY n, fp),
       |astars AS (
       |  SELECT 'star' AS kind, a.rep AS media_a, f.media_id AS media_b,
       |    0 AS hamming, CAST(NULL AS BIGINT) AS n_pairs
       |  FROM afp f JOIN acls a ON f.n = a.n AND f.fp = a.fp
       |  WHERE f.media_id <> a.rep),
       |anear AS (
       |  SELECT 'near' AS kind, a.rep AS media_a, b.rep AS media_b,
       |    CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming,
       |    a.sz * b.sz AS n_pairs
       |  FROM acls a JOIN acls b ON a.n = b.n AND a.rep < b.rep
       |  WHERE bit_count(xor(a.fp, b.fp)) <= 2),
       |aclsrows AS (
       |  SELECT 'class' AS kind, rep AS media_a,
       |    CAST(NULL AS BIGINT) AS media_b, CAST(NULL AS INT) AS hamming,
       |    sz * (sz - 1) // 2 AS n_pairs
       |  FROM acls WHERE sz > 1)
       |SELECT * FROM (SELECT * FROM astars UNION ALL SELECT * FROM anear
       |  UNION ALL SELECT * FROM aclsrows)
       |ORDER BY kind, media_a, media_b""".stripMargin) { (s, dir) =>
    audioNearDupReport(audioFpSilver(s, dir), maxHamming = 2)
      .orderBy("kind", "media_a", "media_b")
  }

  // ---------------------------------------------------------------- m11

  /** VIDEO near-dup (round 13) — the fourth and last modality of the
    * near-dup family (text d11-d13, image m08, audio m10). Fingerprint =
    * frame-sampled perceptual hash: walk the real AVI container via the
    * idx1 index (m07's machinery, `graft.functions.Riff`), decode ONLY
    * every `stride`-th frame, and pool the decoded pixels of the sampled
    * frames onto one min(8,w)×min(8,h) block grid with exact integer
    * area sums — bit k = j·gw+i set by the cross-multiplied mean test
    * (blockSum·N > totalSum·blockN over the sampled pixels), the same
    * integer trick that makes the image and audio hashes
    * engine-reproducible. Selective decode means 1/stride of the frame
    * payload passes through the codec — the property that makes the
    * fingerprint affordable on long videos.
    *
    * FIXTURE CODEC NOTE: m07's production path stays MJPEG (JPEG is the
    * JDK's only video-frame codec with hardware-realistic lossy
    * behavior), but JPEG pixel output is decoder-defined, so a lossy
    * fixture cannot back a pure-SQL oracle. The near-dup fixture
    * therefore writes PNG frames into the SAME RIFF/AVI container
    * (Riff.writeAvi is codec-agnostic; ImageIO sniffs the frame bytes) —
    * the container walk, idx1 selective decode, and pooling path are
    * identical, and PNG's losslessness lets the oracle recompute the
    * fingerprint from the generation formula exactly (the m04/m08
    * pattern: lossless codec where the oracle needs pixel exactness). */
  private[operators] def aviGroupFromSpec(id: Long): Array[Byte] = {
    val g = id - id % 3
    val m = id % 3
    val (w, h) = imgDims(g)
    val n = (1 + g % 12).toInt
    val frames = (0 until n).map { f =>
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          // sparse per-member perturbation (every 23rd diagonal cell):
          // group members share the base signal, so fingerprints land at
          // Hamming 0-2 with a thin tail past the band — the boundary
          // the oracle exercises, like m10's bump constant
          val bump = if ((x + y + f) % 23 == 0) 101L * m else 0L
          val gv = ((31 * g + 7 * x + 13 * y + 17 * f + bump) % 256).toInt
          img.setRGB(x, y, (gv << 16) | (gv << 8) | gv)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    graft.functions.Riff.writeAvi(frames, w, h)
  }

  def videoGroupsFromDocuments(s: SparkSession, dir: String)
      : Dataset[VideoRow] = {
    import s.implicits._
    // fixture-cached (MediaFixtures): the ~130k-at-sf1 PNG frame
    // encodes were the whole `video` ingest line (r13 verdict item 6);
    // the fingerprint pass times the real idx1 selective decode
    graft.plans.MediaFixtures.table(s, dir, "videos_neardup_png", 1) {
      T.documents(s, dir).select(col("doc_id").as("media_id")).as[Long]
        .mapPartitions { ids =>
          System.setProperty("java.awt.headless", "true")
          ids.map(id => VideoRow(id, aviGroupFromSpec(id)))
        }.toDF()
    }.as[VideoRow]
  }

  /** Container walk + stride-sampled selective decode + exact integer
    * block pooling across the sampled frames → one 64-bit fingerprint
    * per video, emitted in the image-hash frame (media_id, gw, gh,
    * phash) so the banding/report machinery is shared with m08. */
  def videoFingerprint(videos: Dataset[VideoRow], stride: Int)
      : Dataset[ImagePHash] = {
    import videos.sparkSession.implicits._
    videos.mapPartitions { rows =>
      System.setProperty("java.awt.headless", "true")
      rows.map { r =>
        val refs = graft.functions.Riff.frameIndex(r.payload)
        val sampled = refs.indices.by(stride)
          .map(i => graft.functions.Riff.decodeFrame(r.payload, refs(i)))
        val (w, h) = (sampled.head.getWidth, sampled.head.getHeight)
        val (gw, gh) = (math.min(8, w), math.min(8, h))
        val bs = Array.ofDim[Long](gh, gw)
        val bn = Array.ofDim[Long](gh, gw)
        var tot = 0L
        sampled.foreach { img =>
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val lum = (img.getRGB(x, y) & 0xff).toLong
              val (i, j) = (x * gw / w, y * gh / h)
              bs(j)(i) += lum; bn(j)(i) += 1; tot += lum
              x += 1
            }
            y += 1
          }
        }
        val n = w.toLong * h * sampled.size
        var bits = 0L
        var k = 0
        var j = 0
        while (j < gh) {
          var i = 0
          while (i < gw) {
            if (bs(j)(i) * n > tot * bn(j)(i)) bits |= (1L << k)
            k += 1; i += 1
          }
          j += 1
        }
        ImagePHash(r.media_id, gw, gh, bits)
      }
    }
  }

  /** Video-fingerprint silver: one selective-decode pass per
    * (session, dir), shared by m11 and the m09 composite. */
  def videoFpSilver(s: SparkSession, dir: String): DataFrame =
    graft.plans.SilverStore.table(s, dir, "video_vhash") {
      videoFingerprint(videoGroupsFromDocuments(s, dir), stride = 2).toDF()
    }

  /** Grid-class near-dup report — the contracted shape (class stars +
    * representative pairs + per-class counts) for any (media_id, gw,
    * gh, phash) fingerprint relation: serves BOTH the image hashes
    * (m08) and the video fingerprints (m11), which share the grid
    * comparability classes and the 4-band pigeonhole. */
  def gridNearDupReport(fps: DataFrame, maxHamming: Int): DataFrame =
    nearDupReport(fps, "media_id", Seq("gw", "gh"), "phash",
      reps => imageNearDupPairs(reps, maxHamming))

  /** The video-fingerprint CTE chain (no leading WITH): recomputes the
    * stride-2 frame-sampled fingerprint from the generation formula in
    * pure SQL, ending in `vhsh(media_id, gw, gh, phash)` and
    * `vpairs(media_a, media_b, hamming)` at Hamming ≤ 2 — shared by m11
    * and the m09 composite. */
  // lazy: referenced by m09 (declared ABOVE this section) during object
  // init — a strict val would still be null there
  private[operators] lazy val videoFpCtes: String =
    """vg AS (
      |  SELECT doc_id AS media_id, doc_id - doc_id % 3 AS g, doc_id % 3 AS m
      |  FROM documents
      |), vd AS (
      |  SELECT media_id, g, m,
      |    CAST(4 + g % 13 AS INT) AS w, CAST(3 + g % 7 AS INT) AS h,
      |    CAST(least(8, 4 + g % 13) AS INT) AS gw,
      |    CAST(least(8, 3 + g % 7) AS INT) AS gh,
      |    CAST(1 + g % 12 AS INT) AS nf
      |  FROM vg
      |), vtot AS (
      |  SELECT media_id, g, m, w, h, gw, gh,
      |    CAST(list_sum(flatten(flatten(
      |      [[[ (31 * g + 7 * x + 13 * y + 17 * f
      |           + CASE WHEN (x + y + f) % 23 = 0 THEN 101 * m ELSE 0 END)
      |          % 256
      |          for f in range(0, nf) if f % 2 = 0]
      |         for y in range(0, h)] for x in range(0, w)])))
      |      AS BIGINT) AS tot,
      |    CAST(w AS BIGINT) * h * len([1 for f in range(0, nf)
      |                                 if f % 2 = 0]) AS n,
      |    nf
      |  FROM vd
      |), vgj AS (
      |  SELECT media_id, g, m, w, h, gw, gh, tot, n, nf,
      |    unnest(range(0, gh)) AS j
      |  FROM vtot
      |), vblk AS (
      |  SELECT media_id, g, m, w, h, gw, gh, tot, n, nf, j,
      |    unnest(range(0, gw)) AS i
      |  FROM vgj
      |), vbit AS (
      |  SELECT media_id, gw, gh, j * gw + i AS k, tot, n,
      |    CAST(list_sum(flatten(flatten(
      |      [[[ (31 * g + 7 * x + 13 * y + 17 * f
      |           + CASE WHEN (x + y + f) % 23 = 0 THEN 101 * m ELSE 0 END)
      |          % 256
      |          for f in range(0, nf) if f % 2 = 0]
      |         for y in range(0, h) if y * gh // h = j]
      |        for x in range(0, w) if x * gw // w = i])))
      |      AS BIGINT) AS bsum,
      |    CAST(len(flatten(flatten(
      |      [[[ 1 for f in range(0, nf) if f % 2 = 0]
      |         for y in range(0, h) if y * gh // h = j]
      |        for x in range(0, w) if x * gw // w = i])))
      |      AS BIGINT) AS bn
      |  FROM vblk
      |), vhsh AS (
      |  SELECT media_id, gw, gh,
      |    CAST(sum(CASE WHEN bsum * n <= tot * bn THEN 0
      |      WHEN k = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
      |      ELSE CAST(CAST(1 AS BIGINT) << k AS HUGEINT) END)
      |      AS BIGINT) AS phash
      |  FROM vbit GROUP BY 1, 2, 3
      |), vpairs AS (
      |  SELECT va.media_id AS media_a, vb.media_id AS media_b,
      |    CAST(bit_count(xor(va.phash, vb.phash)) AS INT) AS hamming
      |  FROM vhsh va JOIN vhsh vb
      |    ON va.gw = vb.gw AND va.gh = vb.gh
      |    AND va.media_id < vb.media_id
      |  WHERE bit_count(xor(va.phash, vb.phash)) <= 2
      |)""".stripMargin

  val m11 = Q("m11_video_neardup",
    s"""WITH $videoFpCtes,
       |vcls AS (
       |  SELECT gw, gh, phash, min(media_id) AS rep, count(*) AS sz
       |  FROM vhsh GROUP BY gw, gh, phash),
       |vstars AS (
       |  SELECT 'star' AS kind, c.rep AS media_a, f.media_id AS media_b,
       |    0 AS hamming, CAST(NULL AS BIGINT) AS n_pairs
       |  FROM vhsh f JOIN vcls c
       |    ON f.gw = c.gw AND f.gh = c.gh AND f.phash = c.phash
       |  WHERE f.media_id <> c.rep),
       |vnear AS (
       |  SELECT 'near' AS kind, a.rep AS media_a, b.rep AS media_b,
       |    CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming,
       |    a.sz * b.sz AS n_pairs
       |  FROM vcls a JOIN vcls b
       |    ON a.gw = b.gw AND a.gh = b.gh AND a.rep < b.rep
       |  WHERE bit_count(xor(a.phash, b.phash)) <= 2),
       |vclsrows AS (
       |  SELECT 'class' AS kind, rep AS media_a,
       |    CAST(NULL AS BIGINT) AS media_b, CAST(NULL AS INT) AS hamming,
       |    sz * (sz - 1) // 2 AS n_pairs
       |  FROM vcls WHERE sz > 1)
       |SELECT * FROM (SELECT * FROM vstars UNION ALL SELECT * FROM vnear
       |  UNION ALL SELECT * FROM vclsrows)
       |ORDER BY kind, media_a, media_b""".stripMargin) { (s, dir) =>
    gridNearDupReport(videoFpSilver(s, dir), maxHamming = 2)
      .orderBy("kind", "media_a", "media_b")
  }

  val all: Seq[Q] = Seq(m01, m02, m03, m04, m05, m06, m07, m08, m09, m10,
    m11)
}
