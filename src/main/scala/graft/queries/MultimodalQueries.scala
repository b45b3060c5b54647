package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.Multimodal

import QueryDef.frame

/** Multimodal plumbing through real codecs: byte features, PNG decode,
  * resize and flip, WAV decode and packed-frame video decode. Each
  * oracle recomputes the synthetic asset analytically.
  */
object MultimodalQueries {

  private val WavRate = 16000    // q96 synthetic WAV sample rate
  private val WavSamples = 1600  // q96 samples per clip (0.1 s)
  private val VidW = 16          // q97 frame raster
  private val VidH = 16
  private val VidFrames = 4      // q97 frames per clip

  val all: Seq[QueryDef] = Seq(
    frame("q37_multimodal_features", {
      val fCols = (0 until Multimodal.FeatureDim)
        .map(j => s"CAST(SUM(CASE WHEN (i - 1) % ${Multimodal.FeatureDim} = $j THEN b ELSE 0 END) AS DOUBLE) / 255.0 AS f$j")
        .mkString(",\n       ")
      s"""WITH hx AS (
         |  -- iterate UTF-8 BYTES (not characters): the Spark side feeds
         |  -- encode(text,'UTF-8') to the decoder, and ascii-per-char only
         |  -- coincides with that while every document is pure ASCII
         |  SELECT doc_id, hex(encode(text)) AS h,
         |         octet_length(encode(text)) AS n
         |  FROM documents
         |), bytes AS (
         |  SELECT doc_id, n, unnest(range(1, n + 1)) AS i, h FROM hx
         |), vals AS (
         |  SELECT doc_id, n, i,
         |         CAST(('0x' || substr(h, CAST(i * 2 - 1 AS INTEGER), 2)) AS INTEGER) AS b
         |  FROM bytes
         |)
         |SELECT doc_id AS asset_id, 'text' AS modality, CAST(n AS BIGINT) AS n_bytes,
         |       $fCols
         |FROM vals GROUP BY doc_id, n ORDER BY asset_id""".stripMargin
    }) { (s, dir) =>
      implicit val spark: SparkSession = s
      val feats = Multimodal.extractFeatures(
        Multimodal.toAssets(Tables.load(s, dir, "documents"), "doc_id", "text"))
      feats.toDF().select(
        col("asset_id") +: col("modality") +: col("n_bytes") +:
          (0 until Multimodal.FeatureDim).map(j => col("feature")(j).as(s"f$j")): _*)
        .orderBy("asset_id")
    },
    // REAL codec path: synthesize per-doc grayscale PNGs through the
    // actual PNG writer, decode through the actual PNG reader
    // (javax.imageio), and oracle-check the recovered pixel stats —
    // PNG is lossless and the synthetic raster is analytic, so DuckDB
    // reproduces the exact values without any image library
    //
    // the synthetic raster is pixel(i) = (doc_id*31 + i) % 256 over a
    // 16×16 gray image; the PNG round-trip is lossless, so the decoded
    // stats equal the analytic ones. The mean is exact: integer sum
    // divided by 256 (a power of two) is exact in binary on both engines
    frame("q75_image_decode",
      """WITH px AS (
        |  SELECT d.doc_id, unnest(range(0, 256)) AS i FROM documents d
        |)
        |SELECT doc_id AS asset_id,
        |       CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
        |       CAST(SUM((doc_id*31 + i) % 256) AS DOUBLE) / 256.0 AS px_mean,
        |       CAST(MIN((doc_id*31 + i) % 256) AS INTEGER) AS px_min,
        |       CAST(MAX((doc_id*31 + i) % 256) AS INTEGER) AS px_max
        |FROM px GROUP BY doc_id ORDER BY asset_id""".stripMargin) { (s, dir) =>
      implicit val spark: SparkSession = s
      val assets = Multimodal.synthPngAssets(
        Tables.load(s, dir, "documents"), "doc_id", width = 16, height = 16)
      Multimodal.imageFeatures(assets).toDF().orderBy("asset_id")
    },
    // REAL pixel resize: encode 16x16 PNGs, nearest-neighbor downsample
    // to 8x8 through decode->resample->re-encode, then decode the
    // PRODUCT for stats — dst(x,y) = src(2x,2y), so the oracle computes
    // the resized raster analytically from the generation formula
    frame("q102_image_resize",
      // nearest-neighbor 16x16 -> 8x8 keeps src pixels (2x, 2y): the
      // surviving raster indices are i = (2y)*16 + 2x, and the 64-pixel
      // mean divides by a power of two — exact in binary on both engines
      """WITH px AS (
        |  SELECT d.doc_id, (ys.y * 2) * 16 + xs.x * 2 AS i
        |  FROM documents d,
        |       (SELECT unnest(range(0, 8)) AS x) xs,
        |       (SELECT unnest(range(0, 8)) AS y) ys
        |)
        |SELECT doc_id AS asset_id,
        |       CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
        |       CAST(SUM((doc_id*31 + i) % 256) AS DOUBLE) / 64.0 AS px_mean,
        |       CAST(MIN((doc_id*31 + i) % 256) AS INTEGER) AS px_min,
        |       CAST(MAX((doc_id*31 + i) % 256) AS INTEGER) AS px_max
        |FROM px GROUP BY doc_id ORDER BY asset_id""".stripMargin) { (s, dir) =>
      implicit val spark: SparkSession = s
      val assets = Multimodal.synthPngAssets(
        Tables.load(s, dir, "documents"), "doc_id", width = 16, height = 16)
      val small = Multimodal.resizeImages(assets.toDF(), targetW = 8, targetH = 8)
      Multimodal.imageFeatures(small.toDF()).toDF().orderBy("asset_id")
    },
    // real augmentation pass: encode 16x16 PNGs, horizontal-flip through
    // decode->mirror->re-encode, then decode the PRODUCT for half-raster
    // sums — global stats are mirror-invariant, so the left/right sums
    // are what PROVE the flip: the oracle computes them analytically
    // from the generation formula with the x index mirrored
    frame("q116_image_flip",
      // source pixel(i) = (id*31 + i) % 256 on a 16x16 raster; the
      // flipped image's pixel at (x, y) is the source's at (15-x, y)
      """WITH px AS (
        |  SELECT doc_id AS asset_id, i % 16 AS x,
        |         (doc_id * 31 + ((i // 16) * 16 + (15 - (i % 16)))) % 256 AS v
        |  FROM documents, (SELECT unnest(range(0, 256)) AS i)
        |)
        |SELECT asset_id,
        |       CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
        |       CAST(SUM(CASE WHEN x < 8 THEN v END) AS BIGINT) AS left_sum,
        |       CAST(SUM(CASE WHEN x >= 8 THEN v END) AS BIGINT) AS right_sum
        |FROM px GROUP BY asset_id ORDER BY asset_id""".stripMargin) { (s, dir) =>
      implicit val spark: SparkSession = s
      val assets = Multimodal.synthPngAssets(
        Tables.load(s, dir, "documents"), "doc_id", width = 16, height = 16)
      val flipped = Multimodal.flipImages(assets.toDF())
      Multimodal.imageHalfStats(flipped.toDF()).toDF().orderBy("asset_id")
    },
    // real RIFF/WAVE container round-trip: synthesize 16-bit mono PCM,
    // decode via the chunk-walking parser, emit exact sample stats the
    // oracle computes analytically from the generation formula
    //
    // sample(t) = (id*7919 + t*104729) % 65536 - 32768, replayed
    // analytically; rms is the only float — exact BIGINT sum of
    // squares, one double division, one correctly-rounded sqrt, 4dp
    frame("q96_audio_decode",
      s"""WITH s AS (
         |  SELECT d.doc_id, CAST(r.range AS BIGINT) AS t,
         |         ((d.doc_id * 7919 + CAST(r.range AS BIGINT) * 104729) % 65536) - 32768 AS v
         |  FROM documents d, range(0, $WavSamples) r
         |), sgn AS (
         |  SELECT doc_id, t, v,
         |         CASE WHEN t > 0 AND ((v >= 0) <> (lag(v) OVER (PARTITION BY doc_id ORDER BY t) >= 0))
         |              THEN 1 ELSE 0 END AS zc
         |  FROM s
         |)
         |SELECT doc_id AS asset_id,
         |       CAST($WavRate AS INTEGER) AS sample_rate,
         |       CAST($WavSamples AS INTEGER) AS n_samples,
         |       ROUND(sqrt(CAST(SUM(v * v) AS DOUBLE) / $WavSamples), 4) AS rms,
         |       CAST(MAX(abs(v)) AS INTEGER) AS peak,
         |       CAST(SUM(zc) AS BIGINT) AS zero_crossings
         |FROM sgn GROUP BY doc_id ORDER BY asset_id""".stripMargin) { (s, dir) =>
      implicit val spark: SparkSession = s
      val assets = Multimodal.synthWavAssets(
        Tables.load(s, dir, "documents"), "doc_id", WavRate, WavSamples)
      Multimodal.audioFeatures(assets).toDF().orderBy("asset_id")
    },
    // packed-real-PNG-frames container: every frame goes through the
    // actual ImageIO decode; temporal activity = avg |Δ frame mean|
    //
    // per-frame means are exact dyadic rationals (sum/256) and their
    // |deltas| share one small denominator, so every aggregate below is
    // exact in double; the single /3.0 is one correctly-rounded op
    frame("q97_video_decode",
      s"""WITH fm AS (
         |  SELECT d.doc_id, CAST(f.range AS BIGINT) AS f,
         |         CAST(SUM((d.doc_id * 31 + CAST(f.range AS BIGINT) * 17 + i.range) % 256) AS DOUBLE) / ${VidW * VidH}.0 AS m
         |  FROM documents d, range(0, $VidFrames) f, range(0, ${VidW * VidH}) i
         |  GROUP BY d.doc_id, f.range
         |), dl AS (
         |  SELECT doc_id, f, m,
         |         abs(m - lag(m) OVER (PARTITION BY doc_id ORDER BY f)) AS ad
         |  FROM fm
         |)
         |SELECT doc_id AS asset_id, CAST($VidFrames AS INTEGER) AS n_frames,
         |       CAST($VidW AS INTEGER) AS width, CAST($VidH AS INTEGER) AS height,
         |       MAX(CASE WHEN f = 0 THEN m END) AS mean_first,
         |       MAX(CASE WHEN f = ${VidFrames - 1} THEN m END) AS mean_last,
         |       SUM(ad) / ${VidFrames - 1}.0 AS avg_abs_delta
         |FROM dl GROUP BY doc_id ORDER BY asset_id""".stripMargin) { (s, dir) =>
      implicit val spark: SparkSession = s
      val assets = Multimodal.synthVideoAssets(
        Tables.load(s, dir, "documents"), "doc_id", VidW, VidH, VidFrames)
      Multimodal.videoFeatures(assets).toDF().orderBy("asset_id")
    }
  )
}
