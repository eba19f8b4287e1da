package graft
package contracts

import org.apache.spark.sql.{Column, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import Harness._

object MultimodalContracts {

  /** Per-process suffix for the media fixture paths: the oracle SQL is
    * generated in the same JVM that writes the fixtures, so Verify's dump
    * and its oracle_sql.json always agree — but a CONCURRENT harness run
    * (e.g. the driver's bench racing its correctness pass) is a different
    * JVM and gets its own files instead of overwriting these mid-read. */
  private val MediaPathSuffix = ProcessHandle.current().pid().toString

  /** q64's own media parquet (distinct from q57's — see q64's comment). */
  private val MediaFramesPath = s"/tmp/graft_q64_media_$MediaPathSuffix"

  /** q66's own media parquet (same isolation reasoning as q64). */
  private val MediaResizePath = s"/tmp/graft_q66_media_$MediaPathSuffix"

  /** Absolute path (same JVM-default /tmp for Spark and the driver's
    * DuckDB) where q57 materializes the demo media table; the oracle SQL
    * reads the same files back. */
  private val MediaParquetPath = s"/tmp/graft_q57_media_$MediaPathSuffix"

  /** The 300-row demo media table, written to `path` and read back typed. */
  private def demoMedia(s: SparkSession, path: String): Dataset[ops.Multimodal.MediaRow] = {
    behavioral.BehavioralFunctions.register(s)
    ops.Multimodal.demoTable(s, 300).write.mode("overwrite").parquet(path)
    import s.implicits._
    s.read.parquet(path).as[ops.Multimodal.MediaRow]
  }

  /** The documents fixture's ids: one synthesized media object each. */
  private def docIds(s: SparkSession, dir: String): Dataset[Long] = {
    import s.implicits._
    table(s, dir, "documents").select(col("doc_id").cast("long")).as[Long]
  }

  /** The 32x16 PNG synthesized for `id`: r = id%256 and g = (id*7)%256
    * solid, b = (x+id)%256 gradient. */
  private def png(id: Long): Array[Byte] =
    ops.Multimodal.encodePng(32, 16) { (x, _) =>
      (((id % 256).toInt) << 16) | (((id * 7 % 256).toInt) << 8) |
        ((x + id) % 256).toInt
    }

  /** The undecodable-image mix of q93 and q100 — id % 4: 0 = [[png]],
    * 1 = junk bytes, 2 = PNG truncated mid-stream, 3 = decompression-bomb
    * header. */
  private def pngMix(id: Long): Array[Byte] = (id % 4) match {
    case 0 => png(id)
    case 1 => Array[Byte](1, 2, 3, 4, 5)
    case 2 => png(id).take(40)
    case _ => ops.Multimodal.bombHeaderPng(16384, 16384)
  }

  /** The 64-frame mono PCM16 WAV synthesized for `id`: sample i is
    * ((id*31 + i*17) % 65536) - 32768. */
  private def wav(id: Long): Array[Byte] =
    ops.Multimodal.encodeWav(8000,
      Array.tabulate(64)(i => (((id * 31 + i * 17) % 65536) - 32768).toShort))

  /** The eight 16x16 JPEG frames synthesized for `id`: frame i is solid
    * gray 32*((i+id)%8)+16. */
  private def grayFrames(id: Long): Seq[Array[Byte]] = (0 until 8).map { i =>
    val v = 32 * ((i + id) % 8).toInt + 16
    ops.Multimodal.encodeJpeg(16, 16)((_, _) => (v << 16) | (v << 8) | v)
  }

  /** The reported columns of a decoded image, audio clip and video frame. */
  private def imageStats: Seq[Column] = Seq(col("media_id").as("doc_id"), col("ok"),
    col("width"), col("height"),
    round(col("mean_r"), 6).as("mean_r"),
    round(col("mean_g"), 6).as("mean_g"),
    round(col("mean_b"), 6).as("mean_b"))
  private def audioStats: Seq[Column] = Seq(col("media_id").as("doc_id"), col("ok"),
    col("sample_rate"), col("channels"), col("n_frames"),
    round(col("duration_ms"), 6).as("duration_ms"),
    round(col("mean_amp"), 6).as("mean_amp"),
    round(col("mean_abs"), 6).as("mean_abs"))
  private def videoStats: Seq[Column] = Seq(col("media_id").as("doc_id"), col("frame_idx"),
    col("ok"), col("width"), col("height"), col("level").as("gray_level"))

  // ---- LLM pipeline: binary-column stats (multimodal plumbing) --------
  val q24 = Contract("q24_binary_stats", run = { (s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"),
          octet_length(col("text").cast("binary")).cast("long").as("n_bytes"),
          substring(md5(col("text").cast("binary")), 1, 8).as("header_hex"))
    },
    oracleSql = """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  substr(md5(text), 1, 8) AS header_hex
        |FROM documents""".stripMargin)

  // ---- multimodal: binary-column feature extraction -------------------
  // writes the deterministic demo media table to parquet, reads it back
  // through the typed Dataset path, and extracts features with the
  // mapPartitions kernel — the oracle recomputes n_bytes / mean_byte /
  // header_ok byte-by-byte from the SAME parquet (hex-decoded in SQL),
  // so the binary-column round-trip and the per-partition kernel are
  // both under the hash gate. The decode body itself stays the honest
  // environment-limited stub (fake 4-byte magic header).
  val q57 = Contract("q57_media_features", run = { (s, dir) =>
      val media = demoMedia(s, MediaParquetPath)
      ops.Multimodal.extractFeatures(media).toDF()
        .select(col("media_id"), col("kind"), col("n_bytes"),
          round(col("mean_byte"), 6).as("mean_byte"), col("header_ok"))
    },
    // recomputes the media features byte-by-byte from the SAME parquet q57
    // wrote: payload bytes decoded from hex(bytes) two nibbles at a time,
    // header check against hex('GFT0') = 47465430
    oracleSql = s"""WITH m AS (SELECT media_id, kind, hex(bytes) AS h,
         |             octet_length(bytes) AS nb
         |           FROM read_parquet('$MediaParquetPath/*.parquet')),
         |s AS (SELECT media_id, kind, nb,
         |        CASE WHEN nb > 4 THEN
         |          list_sum(list_transform(range(0, nb - 4), j ->
         |            (strpos('0123456789ABCDEF', h[9 + 2 * j]) - 1) * 16
         |            + strpos('0123456789ABCDEF', h[10 + 2 * j]) - 1))
         |        ELSE 0 END AS paysum, h
         |      FROM m)
         |SELECT media_id, kind, CAST(nb AS BIGINT) AS n_bytes,
         |  CAST(round(CASE WHEN nb > 4
         |                  THEN paysum / CAST(nb - 4 AS DOUBLE)
         |                  ELSE 0.0 END, 6) AS DOUBLE) AS mean_byte,
         |  (nb >= 4 AND h[1:8] = '47465430') AS header_ok
         |FROM s""".stripMargin)

  // ---- multimodal: frame sampling over the binary column ----------------
  // self-contained (writes its own parquet — query-map iteration order is
  // unspecified, so it cannot rely on q57 having run first); the oracle
  // re-slices every stride-th 16-byte frame out of hex(bytes) in SQL
  val q64 = Contract("q64_media_frames", run = { (s, dir) =>
      val media = demoMedia(s, MediaFramesPath)
      ops.Multimodal.sampleFrames(media, stride = 4).toDF()
        .select(col("media_id"), col("frame_idx"),
          hex(col("frame_bytes")).as("frame_hex"))
    },
    // every stride-th 16-byte payload frame of each video, re-sliced from
    // hex(bytes): frame f covers hex chars [9 + 32f, 9 + 32f + 31] (after
    // the 8 magic chars), for f in 0, 4, 8, ... below (nb - 4) / 16
    oracleSql = s"""WITH m AS (SELECT media_id, hex(bytes) AS h, octet_length(bytes) AS nb
         |           FROM read_parquet('$MediaFramesPath/*.parquet')
         |           WHERE kind = 'video'),
         |f AS (SELECT media_id, h,
         |        unnest(range(0, greatest((nb - 4) // 16, 0))) AS j
         |      FROM m)
         |SELECT media_id, CAST(j AS INTEGER) AS frame_idx,
         |  substr(h, CAST(9 + 32 * j AS INTEGER), 32) AS frame_hex
         |FROM f WHERE j % 4 = 0""".stripMargin)

  // ---- multimodal: nearest-neighbor resize over the binary column -------
  // the oracle recomputes the downsample pixel-by-pixel from hex(bytes):
  // out(y, x) reads payload[(((y*h div 16) * w) + (x*w div 16)) mod plen]
  val q66 = Contract("q66_media_resize", run = { (s, dir) =>
      val media = demoMedia(s, MediaResizePath)
      ops.Multimodal.resize(media, 16, 16).toDF()
        .select(col("media_id"), col("kind"), col("width"), col("height"),
          hex(col("bytes")).as("bytes_hex"))
    },
    // nearest-neighbor 16x16 downsample recomputed pixel-by-pixel: pixel
    // p (row-major) samples source byte ((p//16 * height // 16) * width +
    // (p%16 * width // 16)) mod plen of the payload; non-images pass
    // through untouched
    oracleSql = s"""WITH m AS (SELECT media_id, kind, width, height, hex(bytes) AS h,
         |             octet_length(bytes) AS nb
         |           FROM read_parquet('$MediaResizePath/*.parquet')),
         |px AS (SELECT media_id, width, height, h, nb,
         |         unnest(range(0, 256)) AS p
         |       FROM m WHERE kind = 'image' AND width > 0 AND height > 0),
         |rs AS (SELECT media_id,
         |         '47465430' || string_agg(
         |           substr(h, CAST(9 + 2 * ((((p // 16) * height // 16) * width
         |                                    + ((p % 16) * width // 16)) % (nb - 4))
         |                  AS INTEGER), 2), '' ORDER BY p) AS rh
         |       FROM px GROUP BY media_id)
         |SELECT m.media_id, m.kind,
         |  CASE WHEN rs.media_id IS NOT NULL THEN 16 ELSE m.width END AS width,
         |  CASE WHEN rs.media_id IS NOT NULL THEN 16 ELSE m.height END AS height,
         |  CASE WHEN rs.media_id IS NOT NULL THEN rs.rh ELSE m.h END AS bytes_hex
         |FROM m LEFT JOIN rs USING (media_id)""".stripMargin)

  // ---- multimodal: REAL image codec (JDK javax.imageio), oracle-gated --
  // One 32x16 PNG is synthesized per doc_id — r = id%256 solid,
  // g = (id*7)%256 solid, b = (x+id)%256 gradient — then decoded by the
  // ACTUAL PNG codec and reduced to per-channel means. PNG is lossless
  // and the means have closed forms in doc_id, so DuckDB can verify the
  // real decode path bit-for-bit (sums of integers divided by a
  // power-of-two pixel count are exact doubles).
  val q85 = Contract("q85_image_decode", run = { (s, dir) =>
      import s.implicits._
      val images = docIds(s, dir).mapPartitions(_.map(id => ops.Multimodal.ImageRow(id, png(id))))
      ops.Multimodal.decodeImages(images)
        .select(imageStats: _*)
    },
    // q85: closed-form pixel statistics of the synthesized 32x16 PNGs —
    // r/g are solid so their means are the channel values; b's gradient
    // mean is avg over x in [0,32) of (x+id)%256, computable by a range
    // cross join. Equality proves the REAL codec round trip (encode ->
    // PNG bytes -> decode) is lossless and the channel order is right.
    oracleSql = """WITH xs AS (SELECT unnest(range(0, 32)) AS x),
        |m AS (SELECT d.doc_id, avg(CAST((xs.x + d.doc_id) % 256 AS DOUBLE)) AS mb
        |      FROM documents d CROSS JOIN xs GROUP BY d.doc_id)
        |SELECT m.doc_id, true AS ok,
        |  CAST(32 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
        |  round(CAST(m.doc_id % 256 AS DOUBLE), 6) AS mean_r,
        |  round(CAST((m.doc_id * 7) % 256 AS DOUBLE), 6) AS mean_g,
        |  round(mb, 6) AS mean_b
        |FROM m""".stripMargin)

  // resize 32x16 -> 8x4 through the real decode -> nearest-neighbor ->
  // PNG re-encode -> real decode round trip. The NN source map is
  // sx = x*32/8 = 4x (exact multiples), so the surviving b-gradient
  // samples have the same closed form shifted to stride 4.
  val q86 = Contract("q86_image_resize", run = { (s, dir) =>
      import s.implicits._
      val images = docIds(s, dir).mapPartitions(_.map(id => ops.Multimodal.ImageRow(id, png(id))))
      ops.Multimodal.decodeImages(ops.Multimodal.resizeImages(images, 8, 4))
        .select(imageStats: _*)
    },
    // q86: nearest-neighbor 32x16 -> 8x4 keeps b-samples at x' = 4x
    oracleSql = """WITH xs AS (SELECT unnest(range(0, 8)) AS x),
        |m AS (SELECT d.doc_id, avg(CAST((4 * xs.x + d.doc_id) % 256 AS DOUBLE)) AS mb
        |      FROM documents d CROSS JOIN xs GROUP BY d.doc_id)
        |SELECT m.doc_id, true AS ok,
        |  CAST(8 AS INTEGER) AS width, CAST(4 AS INTEGER) AS height,
        |  round(CAST(m.doc_id % 256 AS DOUBLE), 6) AS mean_r,
        |  round(CAST((m.doc_id * 7) % 256 AS DOUBLE), 6) AS mean_g,
        |  round(mb, 6) AS mean_b
        |FROM m""".stripMargin)

  // ---- multimodal: REAL audio codec (JDK javax.sound.sampled) ---------
  // One 64-frame mono PCM16 WAV is synthesized per doc_id — sample i is
  // ((id*31 + i*17) % 65536) - 32768 — encoded by the ACTUAL WAV writer,
  // decoded by the ACTUAL WAV reader, and reduced to exact sample means
  // (sums of integers over a power-of-two frame count). DuckDB recomputes
  // the means in closed form; equality proves the real codec round trip.
  val q87 = Contract("q87_audio_decode", run = { (s, dir) =>
      import s.implicits._
      val audio = docIds(s, dir).mapPartitions(_.map(id => ops.Multimodal.AudioRow(id, wav(id))))
      ops.Multimodal.decodeAudio(audio)
        .select(audioStats: _*)
    },
    // q87: closed-form sample statistics of the synthesized 64-frame mono
    // PCM16 WAVs — sample i is ((id*31 + i*17) % 65536) - 32768, so the
    // means are exact (integer sums over 64 frames). Equality proves the
    // REAL WAV codec round trip (encode -> container bytes -> decode) is
    // lossless with the right endianness and header fields.
    oracleSql = """WITH fs AS (SELECT unnest(range(0, 64)) AS i),
        |m AS (SELECT d.doc_id,
        |        avg(CAST((d.doc_id * 31 + fs.i * 17) % 65536 - 32768 AS DOUBLE)) AS ma,
        |        avg(abs(CAST((d.doc_id * 31 + fs.i * 17) % 65536 - 32768 AS DOUBLE))) AS mabs
        |      FROM documents d CROSS JOIN fs GROUP BY d.doc_id)
        |SELECT m.doc_id, true AS ok,
        |  CAST(8000 AS INTEGER) AS sample_rate, CAST(1 AS INTEGER) AS channels,
        |  CAST(64 AS BIGINT) AS n_frames, round(CAST(8.0 AS DOUBLE), 6) AS duration_ms,
        |  round(ma, 6) AS mean_amp, round(mabs, 6) AS mean_abs
        |FROM m""".stripMargin)

  // stride-2 downsample through the real decode -> every-2nd-frame ->
  // WAV re-encode at 4000 Hz -> real decode round trip: surviving
  // samples are s'_i = s_{2i}, same closed form at stride 2.
  val q88 = Contract("q88_audio_downsample", run = { (s, dir) =>
      import s.implicits._
      val audio = docIds(s, dir).mapPartitions(_.map(id => ops.Multimodal.AudioRow(id, wav(id))))
      ops.Multimodal.decodeAudio(ops.Multimodal.downsampleAudio(audio, 2))
        .select(audioStats: _*)
    },
    // q88: every-2nd-frame downsample keeps samples at i' = 2i, re-encoded
    // at 4000 Hz — 32 frames, unchanged 8 ms duration
    oracleSql = """WITH fs AS (SELECT unnest(range(0, 32)) AS i),
        |m AS (SELECT d.doc_id,
        |        avg(CAST((d.doc_id * 31 + 2 * fs.i * 17) % 65536 - 32768 AS DOUBLE)) AS ma,
        |        avg(abs(CAST((d.doc_id * 31 + 2 * fs.i * 17) % 65536 - 32768 AS DOUBLE))) AS mabs
        |      FROM documents d CROSS JOIN fs GROUP BY d.doc_id)
        |SELECT m.doc_id, true AS ok,
        |  CAST(4000 AS INTEGER) AS sample_rate, CAST(1 AS INTEGER) AS channels,
        |  CAST(32 AS BIGINT) AS n_frames, round(CAST(8.0 AS DOUBLE), 6) AS duration_ms,
        |  round(ma, 6) AS mean_amp, round(mabs, 6) AS mean_abs
        |FROM m""".stripMargin)

  // ---- multimodal: REAL video path (MJPEG-AVI, JDK JPEG codec) --------
  // One 8-frame MJPEG-AVI is synthesized per doc_id — frame i is solid
  // gray 32*((i+id)%8)+16, JPEG-encoded by the ACTUAL codec, wrapped in
  // a spec-conformant RIFF/AVI container — then frame-sampled at stride
  // 2 through the real container walk + JPEG decode. JPEG is lossy, so
  // the oracle checks floor(mean_gray/32): solid frames decode within
  // ±2 of the encoded level against a ±15 bucket margin, making the
  // statistic exact AND sensitive to the actual decoded pixel content.
  val q89 = Contract("q89_video_frames", run = { (s, dir) =>
      import s.implicits._
      val videos = docIds(s, dir).mapPartitions(_.map { id =>
        ops.Multimodal.VideoRow(id, ops.Multimodal.encodeMjpegAvi(16, 16, 10, grayFrames(id)))
      })
      ops.Multimodal.sampleVideoFrames(videos, 2)
        .select(videoStats: _*)
    },
    // q89: stride-2 sampling of the 8-frame MJPEG-AVI keeps frames
    // 0,2,4,6; each frame's gray bucket floor(mean/32) has the closed form
    // (frame_idx + doc_id) % 8 — exact despite JPEG loss (±2 decode noise
    // against a ±15 bucket margin), and wrong if the container walk, the
    // frame order, the stride, or the pixel path is wrong.
    oracleSql = """WITH fs AS (SELECT unnest(range(0, 8, 2)) AS i)
        |SELECT d.doc_id, CAST(fs.i AS INTEGER) AS frame_idx, true AS ok,
        |  CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
        |  CAST((fs.i + d.doc_id) % 8 AS INTEGER) AS gray_level
        |FROM documents d CROSS JOIN fs""".stripMargin)

  // ---- multimodal: undecodable-bytes contract under the HASH gate -----
  // a deterministic per-doc mix — doc_id % 4: 0 = valid PNG (q85's
  // closed form), 1 = junk bytes (wrong magic, no reader claims them),
  // 2 = PNG truncated mid-stream (header parses, pixel read EOFs),
  // 3 = decompression-bomb header (valid IHDR declaring 16384x16384 =
  // 2^28 px > the 2^26 guard). Every non-zero class must flow through
  // as ok=false with zeroed stats, never a thrown task: corrupt rows
  // are DATA at corpus scale. The oracle computes ok and the zeros in
  // closed form from the mix rule, so the hash covers ok=false rows.
  val q93 = Contract("q93_media_robustness", run = { (s, dir) =>
      import s.implicits._
      val images = docIds(s, dir).mapPartitions(_.map(id => ops.Multimodal.ImageRow(id, pngMix(id))))
      ops.Multimodal.decodeImages(images)
        .select(imageStats: _*)
    },
    // q93: the undecodable-media mix in closed form — doc_id % 4 == 0 is
    // the only decodable class; every other class must surface as
    // ok=false with zeroed stats (the hash gate covers the ok=false rows)
    oracleSql = """WITH xs AS (SELECT unnest(range(0, 32)) AS x),
        |m AS (SELECT d.doc_id, avg(CAST((xs.x + d.doc_id) % 256 AS DOUBLE)) AS mb
        |      FROM documents d CROSS JOIN xs GROUP BY d.doc_id)
        |SELECT m.doc_id, (m.doc_id % 4 = 0) AS ok,
        |  CAST(CASE WHEN m.doc_id % 4 = 0 THEN 32 ELSE 0 END AS INTEGER) AS width,
        |  CAST(CASE WHEN m.doc_id % 4 = 0 THEN 16 ELSE 0 END AS INTEGER) AS height,
        |  round(CASE WHEN m.doc_id % 4 = 0 THEN CAST(m.doc_id % 256 AS DOUBLE) ELSE 0 END, 6) AS mean_r,
        |  round(CASE WHEN m.doc_id % 4 = 0 THEN CAST((m.doc_id * 7) % 256 AS DOUBLE) ELSE 0 END, 6) AS mean_g,
        |  round(CASE WHEN m.doc_id % 4 = 0 THEN mb ELSE 0 END, 6) AS mean_b
        |FROM m""".stripMargin)

  // stereo variant: interleaved L/R PCM16 (L_i and R_i have distinct
  // closed forms), frame-wise stride-2 downsample — channels must stay
  // paired and count-preserved (a de-interleaving stride or channel swap
  // changes both means). decodeAudio's means run over ALL interleaved
  // samples, so the oracle averages the two per-frame channel values.
  val q94 = Contract("q94_audio_stereo", run = { (s, dir) =>
      import s.implicits._
      val audio = docIds(s, dir).mapPartitions(_.map { id =>
        val inter = new Array[Short](64 * 2)
        var i = 0
        while (i < 64) {
          inter(2 * i) = (((id * 31 + i * 17) % 65536) - 32768).toShort
          inter(2 * i + 1) = (((id * 13 + i * 23) % 65536) - 32768).toShort
          i += 1
        }
        ops.Multimodal.AudioRow(id, ops.Multimodal.encodeWav(8000, inter, channels = 2))
      })
      ops.Multimodal.decodeAudio(ops.Multimodal.downsampleAudio(audio, 2))
        .select(audioStats: _*)
    },
    // q94: stereo stride-2 downsample keeps frames i' = 2i with both
    // channels; means run over the interleaved samples, i.e. the average
    // of the per-frame L and R closed forms
    oracleSql = """WITH fs AS (SELECT unnest(range(0, 32)) AS i),
        |m AS (SELECT d.doc_id,
        |        avg((CAST((d.doc_id * 31 + 2 * fs.i * 17) % 65536 - 32768 AS DOUBLE)
        |           + CAST((d.doc_id * 13 + 2 * fs.i * 23) % 65536 - 32768 AS DOUBLE)) / 2) AS ma,
        |        avg((abs(CAST((d.doc_id * 31 + 2 * fs.i * 17) % 65536 - 32768 AS DOUBLE))
        |           + abs(CAST((d.doc_id * 13 + 2 * fs.i * 23) % 65536 - 32768 AS DOUBLE))) / 2) AS mabs
        |      FROM documents d CROSS JOIN fs GROUP BY d.doc_id)
        |SELECT m.doc_id, true AS ok,
        |  CAST(4000 AS INTEGER) AS sample_rate, CAST(2 AS INTEGER) AS channels,
        |  CAST(32 AS BIGINT) AS n_frames, round(CAST(8.0 AS DOUBLE), 6) AS duration_ms,
        |  round(ma, 6) AS mean_amp, round(mabs, 6) AS mean_abs
        |FROM m""".stripMargin)

  // ---- multimodal: undecodable-AUDIO contract under the HASH gate -----
  // q93's principle for the audio path — doc_id % 4: 0 = valid PCM16
  // WAV (q87's closed form), 1 = junk bytes (no parser claims them),
  // 2 = WAV truncated mid-header, 3 = real 8-bit unsigned WAV (parses,
  // but non-PCM16 is DATA the decoder declines, not an error). Every
  // non-zero class flows as ok=false with zeroed stats under the hash.
  val q98 = Contract("q98_audio_robustness", run = { (s, dir) =>
      import s.implicits._
      val audio = docIds(s, dir).mapPartitions(_.map { id =>
        def valid = wav(id)
        def wav8bit: Array[Byte] = {
          val fmt = new javax.sound.sampled.AudioFormat(8000f, 8, 1,
            /* signed = */ false, /* bigEndian = */ false)
          val pcm = Array.tabulate[Byte](64)(i => ((id + i) % 256).toByte)
          val st = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, 64L)
          val out = new java.io.ByteArrayOutputStream()
          javax.sound.sampled.AudioSystem.write(st,
            javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
          out.toByteArray
        }
        val bytes = (id % 4) match {
          case 0 => valid
          case 1 => Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)
          case 2 => valid.take(30)
          case _ => wav8bit
        }
        ops.Multimodal.AudioRow(id, bytes)
      })
      ops.Multimodal.decodeAudio(audio)
        .select(audioStats: _*)
    },
    // q98: the undecodable-audio mix in closed form — only doc_id % 4 == 0
    // decodes; junk, truncated, and non-PCM16 classes surface as ok=false
    // with zeroed stats under the hash gate
    oracleSql = """WITH fs AS (SELECT unnest(range(0, 64)) AS i),
        |m AS (SELECT d.doc_id,
        |        avg(CAST((d.doc_id * 31 + fs.i * 17) % 65536 - 32768 AS DOUBLE)) AS ma,
        |        avg(abs(CAST((d.doc_id * 31 + fs.i * 17) % 65536 - 32768 AS DOUBLE))) AS mabs
        |      FROM documents d CROSS JOIN fs GROUP BY d.doc_id)
        |SELECT m.doc_id, (m.doc_id % 4 = 0) AS ok,
        |  CAST(CASE WHEN m.doc_id % 4 = 0 THEN 8000 ELSE 0 END AS INTEGER) AS sample_rate,
        |  CAST(CASE WHEN m.doc_id % 4 = 0 THEN 1 ELSE 0 END AS INTEGER) AS channels,
        |  CAST(CASE WHEN m.doc_id % 4 = 0 THEN 64 ELSE 0 END AS BIGINT) AS n_frames,
        |  round(CASE WHEN m.doc_id % 4 = 0 THEN 8.0 ELSE 0 END, 6) AS duration_ms,
        |  round(CASE WHEN m.doc_id % 4 = 0 THEN ma ELSE 0 END, 6) AS mean_amp,
        |  round(CASE WHEN m.doc_id % 4 = 0 THEN mabs ELSE 0 END, 6) AS mean_abs
        |FROM m""".stripMargin)

  // ---- multimodal: undecodable-VIDEO contract under the HASH gate -----
  // completes the robustness triad (q93 image, q98 audio) — doc_id % 4:
  // 0 = valid MJPEG-AVI (q89's closed form), 1 = junk bytes and
  // 2 = truncated container (both: ONE frame_idx=-1 ok=false row),
  // 3 = intact container whose frames are garbage bytes (the walk
  // succeeds; each sampled frame decodes to an ok=false row). The
  // oracle enumerates all three shapes in closed form.
  val q99 = Contract("q99_video_robustness", run = { (s, dir) =>
      import s.implicits._
      val videos = docIds(s, dir).mapPartitions(_.map { id =>
        def goodFrames = grayFrames(id)
        def junkFrames = (0 until 8).map(i =>
          Array.tabulate[Byte](32)(j => ((id + i * 7 + j) % 251).toByte))
        val bytes = (id % 4) match {
          case 0 => ops.Multimodal.encodeMjpegAvi(16, 16, 10, goodFrames)
          case 1 => Array[Byte](9, 9, 9, 9)
          // header-level cut (< the 12-byte RIFF/AVI magic) — a MID-STREAM
          // cut deliberately salvages the fully-contained frames instead
          // (VideoCodecSpec pins that), which would be mix-0-shaped here
          case 2 => ops.Multimodal.encodeMjpegAvi(16, 16, 10, goodFrames).take(10)
          case _ => ops.Multimodal.encodeMjpegAvi(16, 16, 10, junkFrames)
        }
        ops.Multimodal.VideoRow(id, bytes)
      })
      ops.Multimodal.sampleVideoFrames(videos, 2)
        .select(videoStats: _*)
    },
    // q99: the undecodable-video mix — valid frames / broken container
    // (one frame_idx=-1 row) / garbage frames (per-sample ok=false rows),
    // each shape in closed form from the doc_id % 4 rule
    oracleSql = """WITH fs AS (SELECT unnest(range(0, 8, 2)) AS i),
        |ok0 AS (SELECT d.doc_id, CAST(fs.i AS INTEGER) AS frame_idx, true AS ok,
        |          CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
        |          CAST((fs.i + d.doc_id) % 8 AS INTEGER) AS gray_level
        |        FROM documents d CROSS JOIN fs WHERE d.doc_id % 4 = 0),
        |bad AS (SELECT d.doc_id, CAST(-1 AS INTEGER) AS frame_idx, false AS ok,
        |          CAST(-1 AS INTEGER) AS width, CAST(-1 AS INTEGER) AS height,
        |          CAST(-1 AS INTEGER) AS gray_level
        |        FROM documents d WHERE d.doc_id % 4 IN (1, 2)),
        |badf AS (SELECT d.doc_id, CAST(fs.i AS INTEGER) AS frame_idx, false AS ok,
        |          CAST(-1 AS INTEGER) AS width, CAST(-1 AS INTEGER) AS height,
        |          CAST(-1 AS INTEGER) AS gray_level
        |        FROM documents d CROSS JOIN fs WHERE d.doc_id % 4 = 3)
        |SELECT * FROM ok0 UNION ALL SELECT * FROM bad UNION ALL SELECT * FROM badf""".stripMargin)

  // ---- multimodal: robustness mix through the RESIZE path -------------
  // composes two seams under one hash: resizeImages must pass
  // undecodable rows THROUGH unchanged (junk / truncated / bomb-header
  // from the q93 mix), and the downstream decode must then flow them as
  // ok=false — while valid rows carry q86's resized closed form. A
  // regression in either seam (resize throwing on bad bytes, or
  // passthrough mangling them into accidental decodability) flips rows.
  val q100 = Contract("q100_resize_robustness", run = { (s, dir) =>
      import s.implicits._
      val images = docIds(s, dir).mapPartitions(_.map(id => ops.Multimodal.ImageRow(id, pngMix(id))))
      ops.Multimodal.decodeImages(ops.Multimodal.resizeImages(images, 8, 4))
        .select(imageStats: _*)
    },
    // q100: the q93 mix through resize — valid rows carry q86's 8x4
    // closed form, every other class survives passthrough and decodes
    // ok=false
    oracleSql = """WITH xs AS (SELECT unnest(range(0, 8)) AS x),
        |m AS (SELECT d.doc_id, avg(CAST((4 * xs.x + d.doc_id) % 256 AS DOUBLE)) AS mb
        |      FROM documents d CROSS JOIN xs GROUP BY d.doc_id)
        |SELECT m.doc_id, (m.doc_id % 4 = 0) AS ok,
        |  CAST(CASE WHEN m.doc_id % 4 = 0 THEN 8 ELSE 0 END AS INTEGER) AS width,
        |  CAST(CASE WHEN m.doc_id % 4 = 0 THEN 4 ELSE 0 END AS INTEGER) AS height,
        |  round(CASE WHEN m.doc_id % 4 = 0 THEN CAST(m.doc_id % 256 AS DOUBLE) ELSE 0 END, 6) AS mean_r,
        |  round(CASE WHEN m.doc_id % 4 = 0 THEN CAST((m.doc_id * 7) % 256 AS DOUBLE) ELSE 0 END, 6) AS mean_g,
        |  round(CASE WHEN m.doc_id % 4 = 0 THEN mb ELSE 0 END, 6) AS mean_b
        |FROM m""".stripMargin)

  val all: Seq[Contract] = Seq(q24, q57, q64, q66, q85, q86, q87, q88, q89, q93, q94, q98,
    q99, q100)
}
