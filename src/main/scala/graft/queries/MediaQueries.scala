package graft
package queries

import graft.pipeline.Multimodal
import org.apache.spark.sql.functions._

/** Media: metadata, frame sampling and resize over synthetic image,
  * audio and video payloads (m01-m06). */
object MediaQueries {

  val all: Seq[Query] = Seq(

    Query("m01_media_meta",
      """SELECT doc_id, octet_length(encode(text))::BIGINT AS n_bytes,
        | (((ascii(substr(text,1,1)) & 127) * 16 + (ascii(substr(text,2,1)) & 15)) + 16)::BIGINT AS width,
        | (((ascii(substr(text,3,1)) & 127) * 16 + (ascii(substr(text,4,1)) & 15)) + 16)::BIGINT AS height,
        | md5(text) AS checksum
        |FROM documents ORDER BY doc_id""".stripMargin,
      floor = true) { t =>
      import t.spark.implicits._
      Multimodal.extractMeta(Multimodal.fromText(t("documents"), "doc_id", "text"))
        .toDF()
        .select(col("doc_id"), col("n_bytes").cast("long").as("n_bytes"),
          col("width").cast("long").as("width"), col("height").cast("long").as("height"),
          col("checksum"))
        .orderBy("doc_id")
    },

    Query("m03_image_meta",
      """SELECT i AS doc_id,
        | CASE WHEN i % 2 = 0 THEN 'image/png' ELSE 'image/bmp' END AS mime,
        | (16 + i % 21)::BIGINT AS width,
        | (16 + (i * 7) % 13)::BIGINT AS height
        |FROM range(64) t(i)
        |UNION ALL SELECT 999, 'image/png', -1, -1
        |ORDER BY doc_id""".stripMargin,
      floor = false) { t =>
      import t.spark.implicits._
      // REAL codec leg: deterministic PNG/BMP fixtures are ENCODED with
      // ImageIO and the metadata must come back through ImageIO.read — the
      // oracle pins the known generated dimensions, so a stubbed or
      // byte-sniffed decoder cannot pass. One corrupt payload pins the
      // explicit (-1,-1) failure marker.
      val rows = (0L until 64L).map { i =>
        val w = 16 + (i % 21).toInt
        val h = 16 + ((i * 7) % 13).toInt
        val fmt = if (i % 2 == 0) "png" else "bmp"
        Multimodal.MediaRow(i, Multimodal.syntheticImage(w, h, seed = i, fmt), s"image/$fmt")
      } :+ Multimodal.MediaRow(999L, Array[Byte](1, 2, 3, 4), "image/png")
      Multimodal.extractMeta(t.spark.createDataset(rows)).toDF()
        .select(col("doc_id"), col("mime"),
          col("width").cast("long").as("width"), col("height").cast("long").as("height"))
        .orderBy("doc_id")
    },

    Query("m06_image_resize",
      // pixel(x,y) = (31x + 7y + seed) mod 2^24; the 4×4 NN subsample reads
      // src(x·(w//4), y·(h//4)); channel extraction is pure integer
      // arithmetic (r = v//65536 %256, g = v//256 %256, b = v %256)
      """WITH docs AS (SELECT i FROM unnest(range(64)) u(i)),
        |dims AS (SELECT i, 16 + (i % 21) AS w, 16 + ((i * 7) % 13) AS h FROM docs),
        |px AS (SELECT i, w, h,
        |  (x * (w // 4) * 31 + y * (h // 4) * 7 + i) % 16777216 AS v
        |  FROM dims CROSS JOIN unnest(range(4)) ux(x) CROSS JOIN unnest(range(4)) uy(y)),
        |s AS (SELECT i AS doc_id, w AS w_in, h AS h_in,
        |  sum((v // 65536) % 256)::BIGINT AS r_sum,
        |  sum((v // 256) % 256)::BIGINT AS g_sum,
        |  sum(v % 256)::BIGINT AS b_sum
        |  FROM px GROUP BY i, w, h)
        |SELECT doc_id::BIGINT AS doc_id, w_in::BIGINT AS w_in, h_in::BIGINT AS h_in,
        |  r_sum, g_sum, b_sum FROM s
        |UNION ALL SELECT 999, -1, -1, -1, -1, -1
        |ORDER BY doc_id""".stripMargin,
      floor = false) { t =>
      import t.spark.implicits._
      // REAL pixel decode + nearest-neighbor resize: the 4×4 subsample's
      // per-channel sums are exact integer functions of the generator
      // (pixel(x,y) = (31x + 7y + seed) mod 2^24), so the oracle computes
      // them from first principles — a decoder that fakes pixels cannot
      // match 64 images × 3 channels. Corrupt bytes pin the -1 marker.
      val rows = (0L until 64L).map { i =>
        val w = 16 + (i % 21).toInt
        val h = 16 + ((i * 7) % 13).toInt
        val fmt = if (i % 2 == 0) "png" else "bmp"
        Multimodal.MediaRow(i, Multimodal.syntheticImage(w, h, seed = i, fmt), s"image/$fmt")
      } :+ Multimodal.MediaRow(999L, Array[Byte](1, 2, 3), "image/png")
      Multimodal.resizeStats(t.spark.createDataset(rows), outW = 4, outH = 4).toDF()
        .select(col("doc_id"), col("w_in").cast("long").as("w_in"),
          col("h_in").cast("long").as("h_in"),
          col("r_sum"), col("g_sum"), col("b_sum"))
        .orderBy("doc_id")
    },

    Query("m04_audio_meta",
      """SELECT i AS doc_id, 'audio/wav' AS mime,
        | ([8000, 11025, 16000, 22050, 44100][(i % 5) + 1])::BIGINT AS sample_rate,
        | (1 + i % 2)::BIGINT AS channels,
        | (100 + (i * 13) % 400)::BIGINT AS n_frames
        |FROM range(50) t(i)
        |UNION ALL SELECT 999, 'audio/wav', -1, -1, -1
        |ORDER BY doc_id""".stripMargin,
      floor = false) { t =>
      import t.spark.implicits._
      // REAL audio codec leg (the m03 move applied to the audio stub):
      // deterministic 16-bit PCM WAVs are ENCODED with javax.sound.sampled
      // and the header metadata must come back through the same parser —
      // the oracle pins the generated rate/channels/frames, so a stub or
      // byte-sniffer cannot pass. One corrupt payload pins the explicit
      // (-1,-1,-1) failure marker.
      val rates = Array(8000, 11025, 16000, 22050, 44100)
      val rows = (0L until 50L).map { i =>
        val sr = rates((i % 5).toInt)
        val ch = 1 + (i % 2).toInt
        val nf = 100 + (i * 13 % 400).toInt
        Multimodal.MediaRow(i, Multimodal.syntheticWav(sr, ch, nf, seed = i), "audio/wav")
      } :+ Multimodal.MediaRow(999L, Array[Byte](9, 9, 9, 9), "audio/wav")
      Multimodal.extractAudioMeta(t.spark.createDataset(rows)).toDF()
        .select(col("doc_id"), col("mime"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"), col("n_frames"))
        .orderBy("doc_id")
    },

    Query("m05_video_meta",
      """SELECT i AS doc_id, 'video/mp4' AS mime,
        | (160 + (i % 8) * 16)::BIGINT AS width,
        | (96 + (i % 5) * 16)::BIGINT AS height,
        | ((600 + (i * 37) % 1200) * 1000 // ([600, 1000, 12288, 90000][(i % 4) + 1]))::BIGINT AS duration_ms
        |FROM range(40) t(i)
        |UNION ALL SELECT 999, 'video/mp4', -1, -1, -1
        |ORDER BY doc_id""".stripMargin,
      floor = false) { t =>
      import t.spark.implicits._
      // REAL video CONTAINER leg (the m03/m04 move applied to the last
      // stubbed modality): deterministic MP4s are written box-by-box by
      // syntheticMp4 and the metadata must come back through the ISO-BMFF
      // box walk (moov/mvhd timescale+duration, moov/trak/tkhd 16.16
      // width/height) — the oracle pins the generated values, so a stub
      // or byte-sniffer cannot pass. One corrupt payload pins the
      // explicit (-1,-1,-1) failure marker.
      val scales = Array(600, 1000, 12288, 90000)
      val rows = (0L until 40L).map { i =>
        val w = 160 + (i % 8).toInt * 16
        val h = 96 + (i % 5).toInt * 16
        val ts = scales((i % 4).toInt)
        val dur = (600 + (i * 37) % 1200).toInt
        Multimodal.MediaRow(i, Multimodal.syntheticMp4(w, h, ts, dur, seed = i), "video/mp4")
      } :+ Multimodal.MediaRow(999L, Array[Byte](0, 0, 0, 8, 'f', 'r', 'e', 'e'), "video/mp4")
      Multimodal.extractVideoMeta(t.spark.createDataset(rows)).toDF()
        .select(col("doc_id"), col("mime"),
          col("width").cast("long").as("width"), col("height").cast("long").as("height"),
          col("duration_ms"))
        .orderBy("doc_id")
    },

    Query("m02_frame_sample",
      """WITH b AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
        |f AS (SELECT doc_id, n,
        |  unnest(range(0, CAST(ceil(n::DOUBLE / 16) AS BIGINT))) AS frame_idx FROM b)
        |SELECT doc_id, frame_idx,
        | least(16, n - frame_idx * 16)::BIGINT AS frame_bytes
        |FROM f WHERE frame_idx % 4 = 0 ORDER BY doc_id, frame_idx""".stripMargin,
      floor = true) { t =>
      import t.spark.implicits._
      // frame-sampling plumbing: fixed-size byte frames, every stride-th
      // kept (codec stubbed to byte slicing; the partition/index math is
      // the real, oracle-checked part)
      Multimodal.sampleFrames(
          Multimodal.fromText(t("documents"), "doc_id", "text"),
          frameBytes = 16, stride = 4)
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("frame_bytes").cast("long").as("frame_bytes"))
        .orderBy("doc_id", "frame_idx")
    }
  )
}
