package graft.catalog

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.sources.DerivedTables._
import Results.sortedResult

/** Media: image, audio and frame codecs through the decode seam, and
  * binary payload metadata. */
object MediaQueries {

  /** The JPEG fixture: doc id is a grayscale image of 8×8 constant blocks,
    * (8·(1 + id%3)) × (8·(1 + 3id%3)), block (bx, by) holding
    * (id·31 + 7bx + 13by) % 256. */
  private def jpegMedia(s: SparkSession, d: String): Dataset[Multimodal.MediaRow] = {
    import s.implicits._
    documents(s, d).select(col("doc_id")).as[Long].map { id =>
      val w = 8 * (1 + id % 3).toInt
      val h = 8 * (1 + (id * 3) % 3).toInt
      Multimodal.MediaRow(id, "image/jpeg",
        Jpeg.encodeGray(w, h,
          (x, y) => ((id * 31 + 7 * (x / 8) + 13 * (y / 8)) % 256).toInt))
    }
  }

  /** The PCM16 fixture: doc id has 1 + id%2 channels and 8 + id%9 frames,
    * interleaved sample i = ((id·31 + 7i) % 65536) − 32768. */
  private def wavMedia(s: SparkSession, d: String): Dataset[Multimodal.MediaRow] = {
    import s.implicits._
    documents(s, d).select(col("doc_id")).as[Long].map { id =>
      val channels = (1 + id % 2).toInt
      val frames = (8 + id % 9).toInt
      val samples = Array.tabulate[Short](frames * channels)(i =>
        (((id * 31 + i * 7) % 65536) - 32768).toShort)
      Multimodal.MediaRow(id, "audio/wav", Wav.encodePcm16(8000, channels, samples))
    }
  }

  val entries: Seq[CatalogEntry] = Seq(
    CatalogEntry("m_multimodal_decode", (s, d) => {
      // typed-Dataset batched decode (stub codec; rows-only check +
      // determinism spec in ParityExtrasSpec)
      Multimodal.decodeFeatures(
        Multimodal.mediaFromDocuments(documents(s, d)))
        .toDF()
        .select(col("id"), col("n_bytes"), col("width"), col("height"))
        .orderBy(col("id"))
    },
      // the deterministic stub codec's 64-bit
      // wraparound byte fold, reproduced with HUGEINT mod-2^64 arithmetic
      // (documents are ASCII, so char ordinals == UTF-8 bytes).
      """WITH ch AS (
        |  SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |    list_transform(range(1, len(text) + 1), i -> CAST(ord(substr(text, i, 1)) AS HUGEINT)) AS bs
        |  FROM documents
        |), hh AS (
        |  SELECT doc_id, n_bytes,
        |    list_reduce(list_prepend(CAST(1125899906842597 AS HUGEINT), bs),
        |      (acc, b) -> (acc * 31 + b) % CAST('18446744073709551616' AS HUGEINT)) AS u
        |  FROM ch
        |), sh AS (
        |  SELECT doc_id, n_bytes,
        |    u - CASE WHEN u >= CAST('9223372036854775808' AS HUGEINT)
        |             THEN CAST('18446744073709551616' AS HUGEINT) ELSE 0 END AS h,
        |    (u // 256) - CASE WHEN u >= CAST('9223372036854775808' AS HUGEINT)
        |             THEN CAST(72057594037927936 AS HUGEINT) ELSE 0 END AS hs
        |  FROM hh
        |)
        |SELECT CAST(doc_id AS BIGINT) AS id, n_bytes,
        |  CAST(16 + ((h % 240) + 240) % 240 AS INT) AS width,
        |  CAST(16 + ((hs % 240) + 240) % 240 AS INT) AS height
        |FROM sh ORDER BY id""".stripMargin),

    CatalogEntry("m_png_decode", (s, d) => {
      // REAL codec roundtrip through the decodeFeatures seam: payloads
      // are genuine PNGs (zlib-deflated IDAT, scanline filter cycling
      // all five types) built from arithmetic the oracle reproduces;
      // width/height come out of the decoded IHDR and pixel_sum from the
      // unfiltered reconstructed pixels — a codec bug cannot cancel out
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long].map { id =>
        val w = (4 + id % 9).toInt
        val h = (4 + (id * 3) % 9).toInt
        Multimodal.MediaRow(id, "image/png",
          Png.encodeGray(w, h, (x, y) => ((id * 31 + 7 * x + 13 * y) % 256).toInt))
      }
      Multimodal.decodeFeatures(media).toDF()
        .select(col("id").as("doc_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("pixel_sum"))
        .orderBy(col("doc_id"))
    },
      // the PNG payload is built from (doc_id, x, y) arithmetic, so the
      // oracle reproduces IHDR dims + the unfiltered pixel sum without a
      // codec: a decoder bug (filters, inflate, CRC) breaks the match
      """WITH dims AS (
        |  SELECT doc_id, 4 + doc_id % 9 AS width, 4 + (doc_id * 3) % 9 AS height
        |  FROM documents
        |), px AS (
        |  SELECT d.doc_id, d.width, d.height, gx.x, gy.y
        |  FROM dims d
        |  JOIN (SELECT unnest(range(0, 12)) AS x) gx ON gx.x < d.width
        |  JOIN (SELECT unnest(range(0, 12)) AS y) gy ON gy.y < d.height
        |)
        |SELECT doc_id, width, height,
        |       SUM((doc_id * 31 + 7 * x + 13 * y) % 256)::BIGINT AS pixel_sum
        |FROM px GROUP BY doc_id, width, height ORDER BY doc_id""".stripMargin),

    CatalogEntry("m_jpeg_decode", (s, d) => {
      // REAL pure-JDK JPEG codec (javax.imageio) through the same seam:
      // grayscale fixtures whose every 8×8 DCT block is constant, encoded
      // at quality 1.0 — DC-only blocks + unit Q100 quantization + no
      // chroma path make the roundtrip bit-exact (JpegSpec proves it),
      // so pixel_sum is pure (doc_id, block) arithmetic the oracle
      // reproduces WITHOUT a codec, while the value still traverses the
      // full Huffman/DCT pipeline
      // the codec, not the 5000-row sort, is the cost: it runs once below
      // the sort's checkpoint
      sortedResult(Multimodal.decodeFeatures(jpegMedia(s, d)).toDF()
        .select(col("id").as("doc_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("pixel_sum")), col("doc_id"))
    },
      // every 8×8 block constant ⇒ pixel_sum = Σ_blocks 64·blockvalue —
      // pure arithmetic (see the m_jpeg_decode comment for why the JDK
      // codec reproduces it bit-exactly at quality 1.0)
      """WITH dims AS (
        |  SELECT doc_id, 8 * (1 + doc_id % 3) AS width, 8 * (1 + (doc_id * 3) % 3) AS height
        |  FROM documents
        |), blocks AS (
        |  SELECT d.doc_id, d.width, d.height, bx.x AS bx, by.y AS by
        |  FROM dims d
        |  JOIN (SELECT unnest(range(0, 3)) AS x) bx ON bx.x < d.width // 8
        |  JOIN (SELECT unnest(range(0, 3)) AS y) by ON by.y < d.height // 8
        |)
        |SELECT doc_id, width, height,
        |       SUM(64 * ((doc_id * 31 + 7 * bx + 13 * by) % 256))::BIGINT AS pixel_sum
        |FROM blocks GROUP BY doc_id, width, height ORDER BY doc_id""".stripMargin),

    CatalogEntry("m_resize", (s, d) => {
      // REAL image resize (round 5 — the resize seam is no longer a stub
      // for image kinds): the m_jpeg_decode fixtures go decode → exact
      // box-average downscale ×2 → raw raster. Every 8×8 constant block
      // averages to itself, so the resized pixel_sum is pure arithmetic
      // (16·blockvalue per block) the oracle reproduces codec-free while
      // the Spark side runs the full decode+resize path
      import s.implicits._
      sortedResult(Multimodal.resizeImages(jpegMedia(s, d), factor = 2)
        .map(r => (r.id, r.width.toLong, r.height.toLong,
          r.payload.map(b => (b & 0xff).toLong).sum))
        .toDF("doc_id", "width", "height", "pixel_sum"), col("doc_id"))
    },
      // decode → ×2 box-average: each 8×8 constant block becomes a 4×4
      // constant region, so pixel_sum = Σ_blocks 16·blockvalue
      """WITH dims AS (
        |  SELECT doc_id, 8 * (1 + doc_id % 3) AS w, 8 * (1 + (doc_id * 3) % 3) AS h
        |  FROM documents
        |), blocks AS (
        |  SELECT d.doc_id, d.w, d.h, bx.x AS bx, by.y AS by
        |  FROM dims d
        |  JOIN (SELECT unnest(range(0, 3)) AS x) bx ON bx.x < d.w // 8
        |  JOIN (SELECT unnest(range(0, 3)) AS y) by ON by.y < d.h // 8
        |)
        |SELECT doc_id, (w // 2)::BIGINT AS width, (h // 2)::BIGINT AS height,
        |       SUM(16 * ((doc_id * 31 + 7 * bx + 13 * by) % 256))::BIGINT AS pixel_sum
        |FROM blocks GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin),

    CatalogEntry("m_wav_decode", (s, d) => {
      // REAL audio codec (from-scratch RIFF/PCM walk, operators/Wav)
      // through the same seam: 16-bit PCM is LOSSLESS, so any synthesized
      // sample sequence roundtrips bit-exactly and the oracle is pure
      // (doc_id, i) arithmetic — sample i = ((id*31 + i*7) % 65536) −
      // 32768, folded back to unsigned for the sum
      Multimodal.decodeFeatures(wavMedia(s, d)).toDF()
        .select(col("id").as("doc_id"), col("width").cast("long").as("n_frames"),
          col("height").cast("long").as("channels"), col("pixel_sum").as("sample_sum"))
        .orderBy(col("doc_id"))
    },
      // PCM16 is lossless ⇒ the decoded unsigned sample sum is pure
      // (doc_id, i) arithmetic: sample i of doc id = (id*31 + i*7) % 65536
      // unsigned (the codec sees it biased to signed, the sum folds back)
      """WITH dims AS (
        |  SELECT doc_id, 1 + doc_id % 2 AS channels, 8 + doc_id % 9 AS frames
        |  FROM documents
        |), samples AS (
        |  SELECT d.doc_id, d.channels, d.frames, i.i
        |  FROM dims d
        |  JOIN (SELECT unnest(range(0, 32)) AS i) i ON i.i < d.frames * d.channels
        |)
        |SELECT doc_id, frames::BIGINT AS n_frames, channels::BIGINT AS channels,
        |       SUM((doc_id * 31 + i * 7) % 65536)::BIGINT AS sample_sum
        |FROM samples GROUP BY doc_id, frames, channels ORDER BY doc_id""".stripMargin),

    CatalogEntry("m_wav_features", (s, d) => {
      // feature extraction PAST bare decode: per (channel, 5-frame
      // window) exact-integer energy Σ|sample| + zero-crossing count,
      // through the real RIFF/PCM codec; same synthesized fixture as
      // m_wav_decode so the oracle is pure (doc_id, i) arithmetic
      Multimodal.audioFeatures(wavMedia(s, d), windowFrames = 5).toDF()
        .select(col("id").as("doc_id"),
          col("channel").cast("long").as("channel"),
          col("window").cast("long").as("win"),
          col("n_frames"), col("abs_sum"), col("zero_crossings"))
        .orderBy(col("doc_id"), col("channel"), col("win"))
    },
      // audioFeatures replayed: interleaved index i → (frame i // ch,
      // channel i % ch); Σ|x| per 5-frame window + sign-flip count with
      // both ends inside the window (frame % 5 <> 0 excludes the boundary)
      """WITH dims AS (
        |  SELECT doc_id, 1 + doc_id % 2 AS channels, 8 + doc_id % 9 AS frames
        |  FROM documents
        |), sam AS (
        |  SELECT d.doc_id, CAST(i.i % d.channels AS BIGINT) AS channel,
        |    i.i // d.channels AS frame,
        |    ((d.doc_id * 31 + i.i * 7) % 65536) - 32768 AS x
        |  FROM dims d
        |  JOIN (SELECT unnest(range(0, 32)) AS i) i ON i.i < d.frames * d.channels
        |), w AS (
        |  SELECT doc_id, channel, frame, frame // 5 AS win, x,
        |    lag(x) OVER (PARTITION BY doc_id, channel ORDER BY frame) AS px
        |  FROM sam
        |)
        |SELECT doc_id, channel, win,
        |  CAST(count(*) AS BIGINT) AS n_frames,
        |  CAST(sum(abs(x)) AS BIGINT) AS abs_sum,
        |  CAST(sum(CASE WHEN frame % 5 <> 0 AND ((px < 0) <> (x < 0))
        |    THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
        |FROM w GROUP BY 1, 2, 3 ORDER BY doc_id, channel, win""".stripMargin),

    CatalogEntry("m_audio_resample", (s, d) => {
      // 2:1 audio downsampling THROUGH the codec (decode → frame
      // decimation → re-encode → decode): the decoded stats of the
      // resampled payload are pure arithmetic over the even frames of
      // the synthesized fixture — the container round-trip is load-bearing
      Multimodal.decodeFeatures(Multimodal.decimateAudio(wavMedia(s, d), stride = 2))
        .toDF()
        .select(col("id").as("doc_id"), col("width").cast("long").as("n_frames"),
          col("height").cast("long").as("channels"), col("pixel_sum").as("sample_sum"))
        .orderBy(col("doc_id"))
    },
      // decimation replayed: output index j maps to original interleaved
      // index (j // ch)·2·ch + (j % ch); unsigned fold as in m_wav_decode
      """WITH dims AS (
        |  SELECT doc_id, 1 + doc_id % 2 AS channels, 8 + doc_id % 9 AS frames
        |  FROM documents
        |), sel AS (
        |  SELECT d.doc_id, d.channels, (d.frames + 1) // 2 AS out_frames, j.j,
        |    (j.j // d.channels) * 2 * d.channels + (j.j % d.channels) AS i
        |  FROM dims d
        |  JOIN (SELECT unnest(range(0, 32)) AS j) j
        |    ON j.j < ((d.frames + 1) // 2) * d.channels
        |)
        |SELECT doc_id, out_frames::BIGINT AS n_frames, channels::BIGINT AS channels,
        |  SUM((doc_id * 31 + i * 7) % 65536)::BIGINT AS sample_sum
        |FROM sel GROUP BY doc_id, out_frames, channels ORDER BY doc_id""".stripMargin),

    CatalogEntry("m_frame_sample", (s, d) => {
      // REAL frame sampling (round 5): concatenated-PNG stream split
      // STRUCTURALLY (Png.frameEnd chunk walk), every 2nd frame decoded
      // through the real codec; frame f of doc id is (4+(id+f)%5) ×
      // (4+(id*3+f)%5) with pixel (x,y) = (id*31 + f*17 + 7x + 13y) % 256
      // — the oracle reproduces the sampled frames' sums codec-free
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long].map { id =>
        val n = (1 + id % 4).toInt
        val bytes = (0 until n).map { f =>
          val w = (4 + (id + f) % 5).toInt
          val h = (4 + (id * 3 + f) % 5).toInt
          Png.encodeGray(w, h, (x, y) => ((id * 31 + f * 17 + 7 * x + 13 * y) % 256).toInt)
        }.reduce(_ ++ _)
        Multimodal.MediaRow(id, "video/png-stream", bytes)
      }
      Multimodal.sampleFramesPng(media, every = 2).toDF()
        .select(col("id").as("doc_id"), col("frame_no"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("pixel_sum"))
        .orderBy(col("doc_id"), col("frame_no"))
    },
      // the sampled (even-numbered) frames' dims and pixel sums are pure
      // (doc_id, frame, x, y) arithmetic — the Spark side must reproduce
      // them THROUGH the container split + real PNG decode
      """WITH frames AS (
        |  SELECT d.doc_id, f.f AS frame_no,
        |         4 + (d.doc_id + f.f) % 5 AS w, 4 + (d.doc_id * 3 + f.f) % 5 AS h
        |  FROM documents d
        |  JOIN (SELECT unnest(range(0, 4)) AS f) f
        |    ON f.f < 1 + d.doc_id % 4 AND f.f % 2 = 0
        |), px AS (
        |  SELECT fr.doc_id, fr.frame_no, fr.w, fr.h, x.x AS x, y.y AS y
        |  FROM frames fr
        |  JOIN (SELECT unnest(range(0, 9)) AS x) x ON x.x < fr.w
        |  JOIN (SELECT unnest(range(0, 9)) AS y) y ON y.y < fr.h
        |)
        |SELECT doc_id, frame_no::INT AS frame_no, w::BIGINT AS width,
        |       h::BIGINT AS height,
        |       SUM((doc_id * 31 + frame_no * 17 + 7 * x + 13 * y) % 256)::BIGINT AS pixel_sum
        |FROM px GROUP BY doc_id, frame_no, w, h
        |ORDER BY doc_id, frame_no""".stripMargin),

    CatalogEntry("m_binary_meta", (s, d) => {
      // multimodal plumbing: opaque binary column + typed metadata
      documents(s, d)
        .withColumn("payload", to_binary(col("text"), lit("utf-8")))
        .select(col("doc_id"), octet_length(col("payload")).as("n_bytes"),
          sha2(col("payload"), 256).as("sha"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes, sha256(text) AS sha
        |FROM documents ORDER BY doc_id""".stripMargin))
}
