package graft

import org.apache.spark.sql.functions._

import graft.multimodal.BinaryColumns

/** Multimodal binary-column plumbing: schema, mapPartitions batch
  * shape, determinism of the stubbed decode, and — the part that
  * matters at 100 TB — payload-column pruning for metadata-only
  * reads.
  */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("syntheticMedia conforms to mediaSchema and is deterministic") {
    val m1 = BinaryColumns.syntheticMedia(spark, 30)
    // simpleString compares names+types, ignoring literal-derived
    // non-nullability
    assert(m1.schema.simpleString == BinaryColumns.mediaSchema.simpleString)
    val h1 = m1.select(xxhash64(col("media_id"), col("payload"))).as[Long].collect().toSeq
    val h2 = BinaryColumns.syntheticMedia(spark, 30)
      .select(xxhash64(col("media_id"), col("payload"))).as[Long].collect().toSeq
    assert(h1 == h2)
  }

  test("extractFeatures: one row per media, stable features, real payload sizes") {
    val media = BinaryColumns.syntheticMedia(spark, 30)
    val f = BinaryColumns.extractFeatures(media)
    assert(f.schema.simpleString == BinaryColumns.featureSchema.simpleString)
    val rows = f.collect()
    assert(rows.length == 30)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_bytes") == 128L) // 256 hex chars -> 128 bytes
      val feat = r.getAs[scala.collection.Seq[Float]]("feature")
      assert(feat.length == 8)
      assert(feat.forall(v => v >= 0.0f && v <= 1.0f))
    }
    // rerun == same features (stub is deterministic, so the plumbing
    // can be replaced by a real decoder without re-testing the frame)
    val again = BinaryColumns.extractFeatures(media).collect()
    assert(rows.map(_.toString).sorted.toSeq == again.map(_.toString).sorted.toSeq)
  }

  test("real PNG decode: true dimensions and a real luminance histogram") {
    val media = BinaryColumns.syntheticImages(spark, 20, w = 32, h = 24)
    val f = BinaryColumns.extractFeatures(media).collect()
    assert(f.length == 20)
    f.foreach { r =>
      // dimensions come from actually decoding the PNG, not metadata
      assert(r.getAs[Int]("width") == 32 && r.getAs[Int]("height") == 24, r)
      val feat = r.getAs[scala.collection.Seq[Float]]("feature")
      assert(feat.length == 8)
      // histogram over 32*24 pixels: non-negative bins summing to 1
      assert(feat.forall(_ >= 0.0f))
      assert(math.abs(feat.sum - 1.0f) < 1e-3, s"histogram must sum to 1: $feat")
    }
    // distinct images produce distinct histograms (it's a real feature,
    // not a constant)
    val distinctFeats = f.map(_.getAs[scala.collection.Seq[Float]]("feature")).distinct
    assert(distinctFeats.length > 1)
  }

  test("real WAV decode: true duration and RMS envelope of the sine tones") {
    val media = BinaryColumns.syntheticAudio(spark, 12, rateHz = 8000, millis = 250)
    val f = BinaryColumns.extractFeatures(media).collect()
    assert(f.length == 12)
    f.foreach { r =>
      // duration comes from actually parsing the WAV, not metadata
      assert(r.getAs[Long]("duration_ms") == 250L, r)
      assert(r.isNullAt(r.fieldIndex("width")), r)
      val feat = r.getAs[scala.collection.Seq[Float]]("feature")
      assert(feat.length == 8)
      // a constant-amplitude sine has near-equal RMS in every segment,
      // well above silence and below clipping
      assert(feat.forall(v => v > 0.1f && v < 0.3f), s"rms=$feat")
    }
  }

  test("non-decodable image payloads fall back to the stub with null dimensions") {
    val media = BinaryColumns.syntheticMedia(spark, 9) // md5-derived bytes, not PNGs
    val f = BinaryColumns.extractFeatures(media)
      .filter(col("media_type") === "image").collect()
    assert(f.nonEmpty)
    f.foreach { r =>
      assert(r.isNullAt(r.fieldIndex("width")) && r.isNullAt(r.fieldIndex("height")), r)
      assert(r.getAs[scala.collection.Seq[Float]]("feature").length == 8)
    }
  }

  test("sampleFrames: n frames per video, bounded frame bytes") {
    val media = BinaryColumns.syntheticMedia(spark, 30)
    val nVideos = media.filter(col("media_type") === "video").count()
    val frames = BinaryColumns.sampleFrames(media, n = 4)
    assert(frames.count() == nVideos * 4)
    assert(frames.select(max("frame_bytes")).as[Long].head() <= 16L)
    // deterministic: same frames on rerun
    val a = frames.select(xxhash64(col("media_id"), col("frame_idx"), col("frame")))
      .as[Long].collect().sorted.toSeq
    val b = BinaryColumns.sampleFrames(media, 4)
      .select(xxhash64(col("media_id"), col("frame_idx"), col("frame")))
      .as[Long].collect().sorted.toSeq
    assert(a == b)
  }

  test("binaryFile ingest of real PNG files decodes end-to-end") {
    import org.apache.spark.sql.functions._
    val dir = new java.io.File("/tmp/graft_media_in")
    org.apache.commons.io.FileUtils.deleteDirectory(dir); dir.mkdirs()
    // write real PNGs to disk from the synthetic generator's payloads
    BinaryColumns.syntheticImages(spark, 3, w = 20, h = 10).collect().foreach { r =>
      java.nio.file.Files.write(
        java.nio.file.Path.of(s"$dir/img_${r.getLong(0)}.png"),
        r.getAs[Array[Byte]]("payload"))
    }
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(s"$dir/ignore.txt"), "not media")
    val media = BinaryColumns.readBinaryDir(spark, dir.getPath, "image", "*.png")
    assert(media.count() == 3, "glob must prune the .txt at listing time")
    val feats = BinaryColumns.extractFeatures(media).collect()
    assert(feats.length == 3)
    feats.foreach { f =>
      assert(f.getAs[Int]("width") == 20 && f.getAs[Int]("height") == 10,
        "true decoded dimensions from disk-ingested payloads")
    }
  }
}
