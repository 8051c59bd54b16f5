package graft
package registry

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.demo.TraceGen
import graft.scale.Multimodal
import graft.SparkEntry.T

/** Multimodal: image, audio and video payload features decoded from planted
  * fixtures. */
object MultimodalCases extends Family("Multimodal") {

  val cases: Seq[Case] = Seq(

    // --- leakage-free rolling features: each user's trailing-7-day
    // count and cent volume as of (strictly before) their LAST event —
    // the feature-store shape: one keyed range window, no self-join ---
    Case("q_lag_features", (s, dir) => {
      val w7 = Window.partitionBy(col("user_id")).orderBy(col("t_us"))
        .rangeBetween(-7L * 86400000000L, -1L)
      val last = Window.partitionBy(col("user_id"))
        .orderBy(col("t_us").desc, col("event_id").desc)
      TraceGen.eventsTable(s, dir)
        .select(col("user_id"), col("event_id"),
          expr("ts div 1000").as("t_us"),
          round(col("value") * 100).cast("long").as("cents"))
        .withColumn("n_prev7", count(lit(1)).over(w7))
        .withColumn("cents_prev7",
          coalesce(sum(col("cents")).over(w7), lit(0L)))
        .withColumn("__rn", row_number().over(last))
        .filter(col("__rn") === 1)
        .select(col("user_id"), col("n_prev7"), col("cents_prev7"))
        .orderBy(col("user_id"))
    },
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS t_us,
        |         CAST(ROUND(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |f AS (
        |  SELECT user_id, event_id, t_us,
        |         CAST(COUNT(*) OVER w AS BIGINT) AS n_prev7,
        |         CAST(COALESCE(SUM(cents) OVER w, 0) AS BIGINT)
        |           AS cents_prev7,
        |         ROW_NUMBER() OVER (PARTITION BY user_id
        |           ORDER BY t_us DESC, event_id DESC) AS rn
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY t_us
        |               RANGE BETWEEN 604800000000 PRECEDING
        |                         AND 1 PRECEDING))
        |SELECT user_id, n_prev7, cents_prev7
        |FROM f WHERE rn = 1 ORDER BY user_id""".stripMargin),

    // --- multimodal plumbing (stubbed decode; real schema/partitioning) ---
    Case("multimodal_features", (s, dir) => {
      val withPayload = T(s, dir, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      val feats = Multimodal.extractFeatures(withPayload)
        .select(col("doc_id"), col("features.width").as("width"),
          col("features.height").as("height"),
          col("features.n_frames").as("n_frames"),
          round(col("features.mean_luma"), 6).as("mean_luma"))
      Multimodal.sampleFrames(feats, "n_frames", 2)
        .select(col("doc_id"), col("width"), col("height"), col("n_frames"),
          col("mean_luma"), size(col("sampled_frames")).as("n_sampled"))
        .orderBy(col("doc_id"))
    },
      """WITH luma AS (
        |  SELECT doc_id, SUM(ascii(text[i])) AS s
        |  FROM (SELECT doc_id, text, unnest(generate_series(1, length(text))) AS i
        |        FROM documents) GROUP BY 1)
        |SELECT d.doc_id,
        |       CAST(640 + length(text) % 640 AS INT) AS width,
        |       CAST(360 + length(text) % 360 AS INT) AS height,
        |       CAST(1 + length(text) % 16 AS INT) AS n_frames,
        |       ROUND(CAST(l.s AS DOUBLE) / length(text) / 255, 6) AS mean_luma,
        |       CAST((1 + length(text) % 16 + 1) // 2 AS INT) AS n_sampled
        |FROM documents d JOIN luma l ON d.doc_id = l.doc_id ORDER BY d.doc_id""".stripMargin),

    // --- REAL image decode: deterministic PGM payloads round-tripped
    //     through the binary P5 parser; oracle recomputes the pixel
    //     arithmetic directly ---
    Case("image_features", (s, dir) => {
      import s.implicits._
      val withPayload = T(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val w = (8 + id % 5).toInt; val h = (6 + id % 4).toInt
          (id, Multimodal.encodePgm(w, h, i => ((id * 31 + i * 7) % 256).toInt))
        }.toDF("doc_id", "payload")
      Multimodal.extractFeatures(withPayload, decoder = Multimodal.decodePgm)
        .select(col("doc_id"), col("features.width").as("width"),
          col("features.height").as("height"),
          round(col("features.mean_luma"), 6).as("mean_luma"))
        .orderBy(col("doc_id"))
    },
      // pixel(i) = (doc_id*31 + i*7) % 256 over a (8 + id%5) x (6 + id%4)
      // raster — the oracle recomputes what the PGM decoder must extract
      """WITH dims AS (
        |  SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 4 AS h
        |  FROM documents),
        |px AS (
        |  SELECT d.doc_id, d.w, d.h, SUM((d.doc_id * 31 + i.i * 7) % 256) AS pxsum
        |  FROM dims d JOIN generate_series(0, 107) i(i) ON i.i < d.w * d.h
        |  GROUP BY 1, 2, 3)
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |       ROUND(pxsum * 1.0 / (w * h) / 255, 6) AS mean_luma
        |FROM px ORDER BY doc_id""".stripMargin),

    // --- REAL video decode: deterministic Y4M (YUV4MPEG2) payloads
    //     round-tripped through the header/FRAME parser; every 2nd
    //     frame's luma plane folded into an exact integer sum ---
    Case("video_features", (s, dir) => {
      import s.implicits._
      val withPayload = T(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val w = (4 + (id % 3) * 2).toInt; val h = (4 + (id % 2) * 2).toInt
          val n = (3 + id % 4).toInt
          (id, Multimodal.encodeY4m(w, h, n,
            (f, i) => ((id * 13 + f * 5 + i * 3) % 256).toInt))
        }.toDF("doc_id", "payload")
      Multimodal.extractFeatures(withPayload,
          decoder = Multimodal.decodeY4m(_),
          featSchema = Multimodal.videoFeatureSchema)
        .select(col("doc_id"), col("features.width").as("width"),
          col("features.height").as("height"),
          col("features.n_frames").as("n_frames"),
          col("features.n_sampled").as("n_sampled"),
          col("features.luma_sum").as("luma_sum"))
        .orderBy(col("doc_id"))
    },
      """WITH dims AS (
        |  SELECT doc_id, 4 + (doc_id % 3) * 2 AS w, 4 + (doc_id % 2) * 2 AS h,
        |         3 + doc_id % 4 AS n
        |  FROM documents),
        |px AS (
        |  SELECT d.doc_id,
        |         SUM((d.doc_id * 13 + f.f * 5 + i.i * 3) % 256) AS luma_sum,
        |         COUNT(DISTINCT f.f) AS n_sampled
        |  FROM dims d
        |  JOIN generate_series(0, 6) f(f) ON f.f < d.n AND f.f % 2 = 0
        |  JOIN generate_series(0, 47) i(i) ON i.i < d.w * d.h
        |  GROUP BY 1)
        |SELECT d.doc_id, CAST(d.w AS INT) AS width, CAST(d.h AS INT) AS height,
        |       CAST(d.n AS INT) AS n_frames,
        |       CAST(p.n_sampled AS INT) AS n_sampled,
        |       CAST(p.luma_sum AS BIGINT) AS luma_sum
        |FROM dims d JOIN px p ON d.doc_id = p.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    Case("audio_features", (s, dir) => {
      import s.implicits._
      val withPayload = T(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val n = (50 + id % 37).toInt
          (id, Multimodal.encodeWav(1, 8000, n,
            i => (((id * 37 + i * 11) % 65536) - 32768).toInt))
        }.toDF("doc_id", "payload")
      Multimodal.extractFeatures(withPayload, decoder = Multimodal.decodeWav,
          featSchema = Multimodal.audioFeatureSchema)
        .select(col("doc_id"), col("features.n_channels").as("n_channels"),
          col("features.sample_rate").as("sample_rate"),
          col("features.n_samples").as("n_samples"),
          col("features.abs_sum").as("abs_sum"),
          expr("features.abs_sum * 1000000L div (features.n_samples * 32768L)")
            .as("mean_abs_micro"))
        .orderBy(col("doc_id"))
    },
      """WITH dims AS (SELECT doc_id, 50 + doc_id % 37 AS n FROM documents),
        |sm AS (
        |  SELECT d.doc_id, d.n,
        |         SUM(ABS((d.doc_id * 37 + i.i * 11) % 65536 - 32768)) AS abs_sum
        |  FROM dims d JOIN generate_series(0, 86) i(i) ON i.i < d.n
        |  GROUP BY 1, 2)
        |SELECT doc_id, CAST(1 AS INT) AS n_channels,
        |       CAST(8000 AS INT) AS sample_rate, CAST(n AS INT) AS n_samples,
        |       CAST(abs_sum AS BIGINT) AS abs_sum,
        |       CAST(abs_sum * 1000000 // (n * 32768) AS BIGINT) AS mean_abs_micro
        |FROM sm ORDER BY doc_id""".stripMargin)
  )
}
