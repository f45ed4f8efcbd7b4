package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column plumbing.
  *
  * Media are opaque `binary` payload columns + typed metadata
  * structs. IMAGE decode is REAL (JDK-built-in `javax.imageio` —
  * PNG/JPEG/GIF/BMP, no external deps): decoded width/height and an
  * 8-bin luminance histogram feature. Audio/video codec work is
  * STUBBED with a deterministic fake because no codec libraries ship
  * in this environment — on a real cluster the stub body is replaced
  * by the decoder call, nothing else changes.
  *
  * Scale notes: payloads are large, so (a) metadata-only operations
  * must never touch the payload column (column pruning — keep payload
  * in its own struct-free column), and (b) per-row work runs via
  * `mapPartitions` over an iterator so one task holds O(1) payloads
  * in memory, not O(partition).
  */
object BinaryColumns {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("media_type", StringType, nullable = false), // image|audio|video
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("duration_ms", LongType, nullable = true),
      StructField("codec", StringType, nullable = true)
    )), nullable = true)
  ))

  val featureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("media_type", StringType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("content_hash", LongType, nullable = false),
    // real decoded dimensions (null when the payload isn't a decodable image)
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    // real decoded duration (null unless the payload is decodable audio)
    StructField("duration_ms", LongType, nullable = true),
    StructField("feature", ArrayType(FloatType), nullable = true)
  ))

  /** Deterministic synthetic media table (payload = seeded bytes) for
    * tests — stands in for a real binary-file ingest.
    */
  def syntheticMedia(spark: SparkSession, n: Int): DataFrame =
    spark.range(n.toLong).select(
      col("id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("id"), lit(3)) + 1).cast("int")).as("media_type"),
      // payload: hash-derived bytes; unhex gives a binary column
      unhex(substring(repeat(md5(col("id").cast("string")), 8), 1, 256)).as("payload"),
      // metadata varies by id so gates over a handful of rows still
      // exercise >=2 distinct codecs and durations (an all-identical
      // metadata column would let a passthrough regression hide)
      struct(lit(64).as("width"), lit(64).as("height"),
        (lit(1000L) + pmod(col("id"), lit(4)) * lit(750L)).as("duration_ms"),
        element_at(array(lit("fakeh264"), lit("fakeav1")),
          (pmod(col("id"), lit(2)) + 1).cast("int")).as("codec")).as("meta"))

  /** STUB for audio/video — replace with the real decoder (ffmpeg
    * bindings etc.) on a cluster with codec libs. The fake derives a
    * deterministic "feature" from payload bytes so the distributed
    * plumbing (schema, batching, partition shape) is fully exercised
    * and testable. Images use the REAL [[decodeImage]] path.
    */
  def decodeStub(payload: Array[Byte], mediaType: String): Array[Float] = {
    val h = java.util.Arrays.hashCode(payload)
    Array.tabulate(8)(i => ((h >>> (i * 4)) & 0xF).toFloat / 15.0f)
  }

  /** REAL image decode via JDK-built-in javax.imageio (PNG/JPEG/GIF/
    * BMP). None when the bytes aren't a decodable image.
    */
  def decodeImage(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
    if (payload.isEmpty) None
    else
      try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload)))
      catch { case _: java.io.IOException | _: RuntimeException => None }

  /** 8-bin luminance histogram over decoded pixels, normalized to sum
    * 1 — a real, deterministic image feature with the same shape the
    * stub fakes for audio/video.
    */
  def imageFeature(img: java.awt.image.BufferedImage): Array[Float] = {
    val hist = new Array[Long](8)
    val (w, h) = (img.getWidth, img.getHeight)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val luma = (299 * ((rgb >> 16) & 0xFF) + 587 * ((rgb >> 8) & 0xFF) +
          114 * (rgb & 0xFF)) / 1000
        hist(math.min(luma >> 5, 7)) += 1
        x += 1
      }
      y += 1
    }
    val n = (w.toLong * h).toFloat
    hist.map(_ / n)
  }

  /** REAL audio decode via JDK-built-in javax.sound.sampled (WAV/AIFF
    * PCM). None when the bytes aren't a decodable audio file.
    */
  def decodeAudio(payload: Array[Byte])
      : Option[(javax.sound.sampled.AudioFormat, Array[Byte])] =
    if (payload.isEmpty) None
    else
      try {
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        val out = (ais.getFormat, ais.readAllBytes())
        ais.close()
        Some(out)
      } catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException |
             _: java.io.IOException => None
      }

  /** 8-segment RMS envelope over 16-bit PCM samples, each segment's
    * root-mean-square amplitude normalized to [0,1] — a real audio
    * feature with the same shape the stub fakes for video.
    */
  def audioFeature(pcm: Array[Byte]): Array[Float] = {
    val nSamples = pcm.length / 2
    if (nSamples == 0) return new Array[Float](8)
    val out = new Array[Float](8)
    var seg = 0
    while (seg < 8) {
      val from = nSamples.toLong * seg / 8
      val until = nSamples.toLong * (seg + 1) / 8
      var acc = 0.0
      var i = from
      while (i < until) {
        // little-endian signed 16-bit
        val s = ((pcm((i * 2).toInt) & 0xFF) | (pcm((i * 2 + 1).toInt) << 8)).toShort
        acc += s.toDouble * s
        i += 1
      }
      val n = (until - from).max(1)
      out(seg) = (math.sqrt(acc / n) / 32768.0).toFloat
      seg += 1
    }
    out
  }

  /** Feature extraction over an iterator of rows — the mapPartitions
    * pattern a real decoder needs (amortizes decoder init per
    * partition, streams rows, never materializes the partition).
    * Images and audio decode for real; non-decodable payloads and
    * video fall back to the stub with null dimensions/duration.
    */
  def extractFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val enc = org.apache.spark.sql.Encoders.row(featureSchema)
    media.select("media_id", "media_type", "payload")
      .mapPartitions { rows =>
        // per-partition decoder init: no temp-file cache on executors
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { r =>
          val payload = Option(r.getAs[Array[Byte]]("payload")).getOrElse(Array.emptyByteArray)
          val mt = r.getAs[String]("media_type")
          val (w, h, durMs, feat) = mt match {
            case "image" =>
              decodeImage(payload) match {
                case Some(img) =>
                  (Integer.valueOf(img.getWidth), Integer.valueOf(img.getHeight),
                    null, imageFeature(img))
                case None => (null, null, null, decodeStub(payload, mt))
              }
            case "audio" =>
              decodeAudio(payload) match {
                case Some((fmt, pcm)) =>
                  val frames = pcm.length / fmt.getFrameSize
                  val dur = (frames * 1000.0 / fmt.getFrameRate).toLong
                  (null, null, java.lang.Long.valueOf(dur), audioFeature(pcm))
                case None => (null, null, null, decodeStub(payload, mt))
              }
            case _ => (null, null, null, decodeStub(payload, mt))
          }
          Row(r.getAs[Long]("media_id"), mt,
            payload.length.toLong,
            java.util.Arrays.hashCode(payload).toLong,
            w, h, durMs, feat)
        }
      }(enc)
  }

  /** Deterministic REAL-WAV media table: each payload is an actual
    * 16-bit PCM mono WAV (seeded sine tone, encoded with
    * javax.sound.sampled) — exercises the real audio decode path with
    * zero external fixtures.
    */
  def syntheticAudio(spark: SparkSession, n: Int, rateHz: Int = 8000,
                     millis: Int = 250): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(mediaSchema)
    spark.range(n.toLong).mapPartitions { ids =>
      ids.map { idRow =>
        val id = idRow.longValue()
        val nSamples = rateHz * millis / 1000
        val freq = 200.0 + id * 50.0
        val pcm = new Array[Byte](nSamples * 2)
        var i = 0
        while (i < nSamples) {
          val s = (math.sin(2 * math.Pi * freq * i / rateHz) * 8000).toInt.toShort
          pcm(i * 2) = (s & 0xFF).toByte
          pcm(i * 2 + 1) = ((s >> 8) & 0xFF).toByte
          i += 1
        }
        val fmt = new javax.sound.sampled.AudioFormat(rateHz.toFloat, 16, 1, true, false)
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        Row(id, "audio", bos.toByteArray,
          Row(null, null, java.lang.Long.valueOf(millis.toLong), "wav"))
      }
    }(enc)
  }

  /** Deterministic REAL-PNG media table: each row's payload is an
    * actual PNG (encoded with javax.imageio) of a seeded gradient
    * pattern — exercises the real decode path end-to-end with zero
    * external test fixtures.
    */
  def syntheticImages(spark: SparkSession, n: Int, w: Int = 32, h: Int = 24): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(mediaSchema)
    spark.range(n.toLong).mapPartitions { ids =>
      javax.imageio.ImageIO.setUseCache(false)
      ids.map { idRow =>
        val id = idRow.longValue()
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            // seeded gradient: id picks the base hue, x/y shade it
            val r = ((id * 37 + x * 8) % 256).toInt
            val g = ((id * 73 + y * 11) % 256).toInt
            val b = ((id * 11 + x + y) % 256).toInt
            img.setRGB(x, y, (r << 16) | (g << 8) | b)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        Row(id, "image", bos.toByteArray,
          Row(Integer.valueOf(w), Integer.valueOf(h), null, "png"))
      }
    }(enc)
  }

  /** Frame sampling for video-typed media: emit `n` evenly-spaced
    * "frames" per payload. The frame extraction itself is STUBBED
    * (payload byte-slices stand in for decoded frames); the Spark
    * side — one row per (media, frame_idx) via a lateral explode,
    * frame byte budget bounded per row — is the real shape a
    * 100 TB video pipeline needs (frames explode 10-100×, so
    * downstream must never carry the source payload alongside).
    */
  def sampleFrames(media: DataFrame, n: Int): DataFrame =
    media.filter(col("media_type") === "video")
      .select(col("media_id"),
        posexplode(transform(sequence(lit(0), lit(n - 1)), i => {
          val len = length(col("payload"))
          // stub "frame": a 16-byte slice at position i/n of the payload
          substring(col("payload"), (i * greatest(len / n, lit(1)) + 1).cast("int"), lit(16))
        })).as(Seq("frame_idx", "frame")))
      .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
        col("frame"), length(col("frame")).cast("long").as("frame_bytes"))

  /** Ingest a directory of media files through Spark's `binaryFile`
    * source — the real on-ramp the synthetic tables stand in for.
    * Each file becomes one row (path, length, payload); the id is the
    * path hash so re-ingests are stable. `pathGlobFilter` prunes by
    * extension at LISTING time (no payload read for skipped files),
    * and `maxPartitionBytes` governs how many payloads a task holds —
    * the two knobs that matter when the directory is 100 TB of media.
    */
  def readBinaryDir(spark: SparkSession, dir: String, mediaType: String,
                    glob: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
      .select(
        xxhash64(col("path")).as("media_id"),
        lit(mediaType).as("media_type"),
        col("content").as("payload"),
        struct(lit(null).cast("int").as("width"),
          lit(null).cast("int").as("height"),
          lit(null).cast("long").as("duration_ms"),
          lit(null).cast("string").as("codec")).as("meta"),
        col("path"), col("length"))
}
