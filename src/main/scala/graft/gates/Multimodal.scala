package graft
package gates

import org.apache.spark.sql.functions._

import graft.dedup.SimHash

/** Family G, `graft.multimodal`: binary image/video columns and
  * perceptual hashes.
  */
object Multimodal {

  val gates: Seq[Gate] = Seq(

    Gate("q_multimodal", (s, d) => {
      // REAL decode in the gate: synthetic-but-genuine PNGs (imageio)
      // and WAVs (javax.sound) through the mapPartitions feature
      // extractor; the oracle pins the A-PRIORI properties — known
      // encode dimensions/duration and feature invariants (luminance
      // histogram sums to 1; RMS envelope within [0,1] and non-silent)
      // — never golden bytes, which would track the encoder version
      import graft.multimodal.BinaryColumns
      val media = BinaryColumns.syntheticImages(s, 8)
        .unionByName(BinaryColumns.syntheticAudio(s, 4)
          .withColumn("media_id", col("media_id") + lit(100L)))
      BinaryColumns.extractFeatures(media).select(
        col("media_id"), col("media_type"), col("width"), col("height"),
        col("duration_ms"),
        when(col("media_type") === "image",
          abs(aggregate(col("feature"), lit(0.0), (a, x) => a + x) - lit(1.0)) < 0.001)
          .otherwise(
            aggregate(col("feature"), lit(0.0), (a, x) => a + x) > lit(0.0) &&
              !exists(col("feature"), x => x < lit(0.0f) || x > lit(1.0f)))
          .as("feat_ok"))
    },
      oracle = Some("""SELECT CAST(media_id AS BIGINT) AS media_id, media_type,
           CAST(width AS INT) AS width, CAST(height AS INT) AS height,
           CAST(duration_ms AS BIGINT) AS duration_ms,
           CAST(feat_ok AS BOOLEAN) AS feat_ok
         FROM (VALUES
           (0, 'image', 32, 24, NULL, TRUE), (1, 'image', 32, 24, NULL, TRUE),
           (2, 'image', 32, 24, NULL, TRUE), (3, 'image', 32, 24, NULL, TRUE),
           (4, 'image', 32, 24, NULL, TRUE), (5, 'image', 32, 24, NULL, TRUE),
           (6, 'image', 32, 24, NULL, TRUE), (7, 'image', 32, 24, NULL, TRUE),
           (100, 'audio', NULL, NULL, 250, TRUE), (101, 'audio', NULL, NULL, 250, TRUE),
           (102, 'audio', NULL, NULL, 250, TRUE), (103, 'audio', NULL, NULL, 250, TRUE)
         ) AS t(media_id, media_type, width, height, duration_ms, feat_ok)""")),

    Gate("q_image_phash", (s, d) => {
      // multimodal NEAR-dup (r12): perceptual dHash over REAL decoded
      // pixels + the SimHash band-bucket join, threshold hamming<=1.
      // The planted set makes the oracle a-priori EXACT: dHash bits
      // are local (no global-mean coupling), so on a gradient image
      // every planted black grid cell flips exactly one known bit —
      // per base: a byte-identical copy (hamming 0), a one-extra-cell
      // variant (hamming 1), and distinct bases 2+ bits apart, so the
      // screen must return exactly the 4 planted trios.
      import graft.multimodal.ImagePHash
      val media = ImagePHash.plantedGradientMedia(s, 4)
      ImagePHash.nearDupPairs(ImagePHash.hashMedia(media), maxHamming = 1)
    },
      // the planted dHash trios: per base k — copy at hamming 0,
      // one-cell variant at hamming 1 (each black cell = exactly one
      // local bit flip on the gradient); nothing else within hamming 1
      oracle = Some("""SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
           CAST(hamming AS BIGINT) AS hamming
         FROM (VALUES
           (0, 100, 0), (0, 200, 1), (100, 200, 1),
           (1, 101, 0), (1, 201, 1), (101, 201, 1),
           (2, 102, 0), (2, 202, 1), (102, 202, 1),
           (3, 103, 0), (3, 203, 1), (103, 203, 1)
         ) AS t(id_a, id_b, hamming)""")),

    Gate("q_multimodal_video", (s, d) => {
      // the VIDEO seam: decode is stubbed (no codec libs in this
      // environment — the stub body is the only replacement point on
      // a real cluster), so the gate pins everything AROUND the stub:
      // typed metadata passthrough (codec, declared duration), frame
      // sampling shape (n frames, bounded frame bytes), and the stub
      // feature's contract (8 values in [0,1]). All a-priori values.
      import graft.multimodal.BinaryColumns
      val media = BinaryColumns.syntheticMedia(s, 12)
        .filter(col("media_type") === "video")
      val feats = BinaryColumns.extractFeatures(media)
      val frames = BinaryColumns.sampleFrames(media, n = 4)
        .groupBy("media_id").agg(count(lit(1)).as("n_frames"),
          max(col("frame_bytes")).as("max_frame_bytes"))
      feats.join(frames, "media_id")
        .join(media.select(col("media_id"), col("meta.codec").as("codec"),
          col("meta.duration_ms").as("meta_duration_ms")), "media_id")
        .select(col("media_id"), col("media_type"), col("n_bytes"),
          col("width"), col("height"), col("duration_ms"),
          col("codec"), col("meta_duration_ms"),
          col("n_frames"), col("max_frame_bytes"),
          (size(col("feature")) === 8 &&
            !exists(col("feature"), x => x < lit(0.0f) || x > lit(1.0f)))
            .as("feat_ok"))
    },
      // a-priori oracle: syntheticMedia payloads are 128 hash-derived
      // bytes; video rows are ids ≡ 2 (mod 3); stub decode leaves
      // width/height/duration null; 4 sampled frames of 16 bytes each;
      // meta codec (id%2 of two fakes) and duration (1000+750·(id%4))
      // pass through untouched — the id-varied values make the hash
      // compare a degeneracy tripwire: constant-metadata regressions
      // (e.g. a passthrough that drops to a default) go red here
      oracle = Some("""SELECT CAST(media_id AS BIGINT) AS media_id, media_type,
           CAST(n_bytes AS BIGINT) AS n_bytes,
           CAST(width AS INT) AS width, CAST(height AS INT) AS height,
           CAST(duration_ms AS BIGINT) AS duration_ms,
           codec, CAST(meta_duration_ms AS BIGINT) AS meta_duration_ms,
           CAST(n_frames AS BIGINT) AS n_frames,
           CAST(max_frame_bytes AS BIGINT) AS max_frame_bytes,
           CAST(feat_ok AS BOOLEAN) AS feat_ok
         FROM (VALUES
           (2, 'video', 128, NULL, NULL, NULL, 'fakeh264', 2500, 4, 16, TRUE),
           (5, 'video', 128, NULL, NULL, NULL, 'fakeav1', 1750, 4, 16, TRUE),
           (8, 'video', 128, NULL, NULL, NULL, 'fakeh264', 1000, 4, 16, TRUE),
           (11, 'video', 128, NULL, NULL, NULL, 'fakeav1', 3250, 4, 16, TRUE)
         ) AS t(media_id, media_type, n_bytes, width, height, duration_ms,
                codec, meta_duration_ms, n_frames, max_frame_bytes, feat_ok)"""))
  )
}
