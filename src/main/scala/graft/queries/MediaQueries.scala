package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.Tables
import graft.functions.{DedupFunctions => D, TextFunctions => T, MultimodalFunctions => Multimodal}
import QuerySpec.{memoLayout, writeFixtureAtomic}

/** Media: binary payloads, video (MJPEG, H.264) and audio decode,
  * the distributed media corpus, and the cross-modal perceptual
  * signature plane (q169–q179). */
object MediaQueries {

  /** Materialize the two-GOP fixture clips (gop_00 = IDR+P, IDR+P with
    * both IDRs in stss; gop_01 = the re-cut second GOP alone) from the
    * committed resources. Idempotent, concurrency-safe. */
  private def mediaGopDir(): String = {
    val dir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft-media-gop")
    java.nio.file.Files.createDirectories(dir)
    for (g <- 0 until 2) {
      val in = getClass.getResourceAsStream(f"/graft/h264/corpus/gop_$g%02d.mp4")
      val bytes = try in.readAllBytes() finally in.close()
      writeFixtureAtomic(dir, f"gop_$g%02d.mp4", bytes)
    }
    dir.toString
  }

  /** The cross-modal signature plane battery shared by q174/q176/q177:
    * image DCT pHashes over the formula PNGs + the perturbed twin (id 12),
    * audio WHT fingerprints over the formula tones + the ×2-gain (16) and
    * +1-noise (17) twins, video keyframe pHashes over the committed clip
    * corpus + a byte-dup of clip 0 re-keyed as id 8 — one (modality, id,
    * sig) table whose planted twins pair at hamming ≤ 4 in every
    * modality. */
  private def crossmodalSigs(s: SparkSession): DataFrame = {
    import s.implicits._
    val M = graft.functions.MultimodalFunctions
    val imgs = ((0 until 12).map(i => (i.toLong, phashBatteryPng(i))) :+
      (12L, perturbedBatteryPng())).toDF("id", "content")
    val isig = M.imagePhash(imgs, "id", "content")
      .select(lit("image").as("modality"), col("id"), col("phash").as("sig"))
    def base(tid: Long)(n: Int): Long =
      ((tid + 3) * ((n.toLong * n) % 977) + 17L * n) % 4096 - 2048
    def tone(id: Long, f: Int => Short): (Long, Array[Byte]) =
      (id, M.AudioCodec.pcm16Wav(Array.tabulate(1024)(f), 8000))
    val tones = ((0 until 16).map(i => tone(i.toLong, n => base(i.toLong)(n).toShort)) :+
      tone(16L, n => (2 * base(0L)(n)).toShort) :+
      tone(17L, n => (base(0L)(n) + (if (n % 7 == 0) 1 else 0)).toShort))
      .toDF("id", "content")
    val asig = M.audioPhash(tones, "id", "content")
      .select(lit("audio").as("modality"), col("id"), col("afp").as("sig"))
    val dir = mediaCorpusDir()
    val clips = s.read.format("binaryFile").option("pathGlobFilter", "*.mp4")
      .load(dir)
      .select(col("path"), col("content")).as[(String, Array[Byte])]
      .flatMap { case (p, b) =>
        val id = "clip_(\\d+)".r.findFirstMatchIn(p).get.group(1).toLong
        if (id == 0L) Seq((0L, b), (8L, b)) else Seq((id, b))
      }.toDF("id", "content")
    val vsig = M.videoPhash(clips, "id", "content")
      .select(lit("video").as("modality"), col("id"), col("phash").as("sig"))
    isig.unionByName(asig).unionByName(vsig)
  }

  /** Image 12 of the q174 battery: img 0's pixel formula +1 wherever
    * `(x + y) % 5 == 0` — a true near-duplicate (identical pHash on this
    * battery); no perturbed position holds a 255 pixel, so the PNG stays
    * 8-bit-exact against the oracle's formula replay. */
  private def perturbedBatteryPng(): Array[Byte] = {
    val bi = new java.awt.image.BufferedImage(32, 32,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 32; x <- 0 until 32) {
      val v = ((x * 7 + y * 13) * (x + y + 1) + x * y) % 256 +
        (if ((x + y) % 5 == 0) 1 else 0)
      bi.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(bi, "png", bos)
    bos.toByteArray
  }

  /** One 32×32 grayscale battery PNG: pixel (x, y) of image `img` has
    * r=g=b = ((x·7 + y·13 + img·29)·(x + y + img + 1) + x·y) mod 256 —
    * integer-exact through the PNG round-trip AND through the luma
    * weights ((v·299+v·587+v·114)/1000 = v), so the oracle's
    * generate_series replay of the same formula IS the decoded grid. The
    * battery's smallest |coefficient − median| margin is ~0.24 (PHashSpec
    * pins ≥ 1e-3), so float summation order can never flip a hash bit. */
  private def phashBatteryPng(img: Int): Array[Byte] = {
    val bi = new java.awt.image.BufferedImage(32, 32,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 32; x <- 0 until 32) {
      val v = ((x * 7 + y * 13 + img * 29) * (x + y + img + 1) + x * y) % 256
      bi.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(bi, "png", bos)
    bos.toByteArray
  }

  /** Materialize the media fixture corpus: 8 committed avc1 clips (IDR+3P
    * each, scripts/gen_h264_fixture.py — together covering the FULL
    * decoder surface: mixed intra/P16, 16x8/8x16 and P_8x8 partitions, a
    * 2-picture DPB with mixed ref indices, and explicit weighted
    * prediction) + 16 WAVs synthesized from the q163 integer PCM
    * formula — so q167 exercises the DISTRIBUTED binaryFile → demux →
    * decode path end-to-end. Idempotent. */
  private def mediaCorpusDir(): String = {
    val dir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft-media-corpus")
    java.nio.file.Files.createDirectories(dir)
    for (c <- 0 until 8) {
      val in = getClass.getResourceAsStream(f"/graft/h264/corpus/clip_$c%02d.mp4")
      val bytes = try in.readAllBytes() finally in.close()
      writeFixtureAtomic(dir, f"clip_$c%02d.mp4", bytes)
    }
    for (id <- 0 until 16) {
      val samples = Array.tabulate(1024) { n =>
        (((id + 3).toLong * ((n.toLong * n) % 977) + 17L * n) % 4096 - 2048).toShort
      }
      writeFixtureAtomic(dir, f"tone_$id%02d.wav",
        graft.functions.MultimodalFunctions.AudioCodec.pcm16Wav(samples, 8000))
    }
    dir.toString
  }

  /** Shared DuckDB CTE chain for the cross-modal signature plane
    * (q174/q176/q177): replays the image DCT pHash from the pixel
    * formulas (incl. the perturbed twin, id 12), the audio WHT
    * fingerprint from the PCM formulas (incl. the ×2-gain and +1-noise
    * twins, ids 16/17), and carries the video keyframe hashes as
    * literals from the independent python encoder's reconstruction
    * replay (incl. the byte-dup, id 8) — ending in
    * sigs(modality, id, sig). */
  private val crossmodalSigSql: String =
      """WITH ipx AS (
        |  SELECT img, x, y,
        |    CASE WHEN img <= 11 THEN ((x*7 + y*13 + img*29) * (x + y + img + 1) + x*y) % 256
        |         ELSE ((x*7 + y*13) * (x + y + 1) + x*y) % 256
        |              + CASE WHEN (x + y) % 5 = 0 THEN 1 ELSE 0 END END AS v
        |  FROM generate_series(0,12) t0(img),
        |       generate_series(0,31) t1(x), generate_series(0,31) t2(y)
        |), idct AS (
        |  SELECT img, u, vv,
        |    SUM(v * cos((2*x+1)*u*pi()/64) * cos((2*y+1)*vv*pi()/64)) AS c
        |  FROM ipx, generate_series(0,7) tu(u), generate_series(0,7) tv(vv)
        |  GROUP BY img, u, vv
        |), imed AS (
        |  SELECT img, median(c) AS m FROM idct WHERE NOT (u = 0 AND vv = 0) GROUP BY img
        |), ibits AS (
        |  SELECT d.img, u*8 + vv AS k, CASE WHEN d.c > imed.m THEN 1 ELSE 0 END AS b
        |  FROM idct d JOIN imed ON d.img = imed.img
        |), isig AS (
        |  SELECT 'image' AS modality, img AS id,
        |    CAST(SUM(CASE WHEN b = 0 THEN 0 WHEN k = 63 THEN -9223372036854775808
        |                  ELSE (CAST(1 AS BIGINT) << k) END) AS BIGINT) AS sig
        |  FROM ibits GROUP BY img
        |), apcm AS (
        |  SELECT id, CASE
        |    WHEN id <= 15 THEN list_transform(generate_series(0, 1023), n ->
        |      ((id + 3) * ((n*n) % 977) + 17 * n) % 4096 - 2048)
        |    WHEN id = 16 THEN list_transform(generate_series(0, 1023), n ->
        |      2 * ((3 * ((n*n) % 977) + 17 * n) % 4096 - 2048))
        |    ELSE list_transform(generate_series(0, 1023), n ->
        |      (3 * ((n*n) % 977) + 17 * n) % 4096 - 2048
        |      + CASE WHEN n % 7 = 0 THEN 1 ELSE 0 END) END AS x
        |  FROM generate_series(0, 17) ti(id)
        |), aen AS (
        |  SELECT id, t, b,
        |    list_aggregate(list_transform(generate_series(0, 2), j ->
        |      (list_aggregate(list_transform(generate_series(0, 63), n ->
        |         x[t*64 + n + 1] * (CASE WHEN bit_count(CAST(n AS BIGINT) & (b*3 + j + 1)) % 2 = 0 THEN 1 ELSE -1 END)), 'sum')) ** 2), 'sum') AS en
        |  FROM apcm, generate_series(0, 4) tt(t), generate_series(0, 16) bb(b)
        |), adiff AS (
        |  SELECT a.id, a.t, a.b, (a.en - c.en) - (p.en - q.en) AS diff
        |  FROM aen a JOIN aen c ON c.id = a.id AND c.t = a.t AND c.b = a.b + 1
        |             JOIN aen p ON p.id = a.id AND p.t = a.t - 1 AND p.b = a.b
        |             JOIN aen q ON q.id = a.id AND q.t = a.t - 1 AND q.b = a.b + 1
        |  WHERE a.t >= 1 AND a.b <= 15
        |), asig AS (
        |  SELECT 'audio' AS modality, id,
        |    CAST(SUM(CASE WHEN diff <= 0 THEN 0 WHEN (t-1)*16 + b = 63 THEN -9223372036854775808
        |                  ELSE (CAST(1 AS BIGINT) << ((t-1)*16 + b)) END) AS BIGINT) AS sig
        |  FROM adiff GROUP BY id
        |), vsig AS (
        |  SELECT 'video' AS modality, id, sig FROM (VALUES
        |    (CAST(0 AS BIGINT), CAST(8636034951607170629 AS BIGINT)),
        |    (CAST(1 AS BIGINT), CAST(3676657861836354165 AS BIGINT)),
        |    (CAST(2 AS BIGINT), CAST(-6636563845715892555 AS BIGINT)),
        |    (CAST(3 AS BIGINT), CAST(3738160048424576709 AS BIGINT)),
        |    (CAST(4 AS BIGINT), CAST(2853554358855366165 AS BIGINT)),
        |    (CAST(5 AS BIGINT), CAST(-668106281696418235 AS BIGINT)),
        |    (CAST(6 AS BIGINT), CAST(4830352879577429605 AS BIGINT)),
        |    (CAST(7 AS BIGINT), CAST(8303120560622614037 AS BIGINT)),
        |    (CAST(8 AS BIGINT), CAST(8636034951607170629 AS BIGINT))) t(id, sig)
        |), sigs AS (
        |  SELECT * FROM isig UNION ALL SELECT * FROM asig UNION ALL SELECT * FROM vsig
        |)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // ---- multimodal: binary payload + stub meta columns ------------------
    QuerySpec("q42_media_meta", (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("content"))
        .select(col("doc_id"),
          graft.functions.MultimodalFunctions.mediaMetaColumns(col("content")).as("m"))
        .select(col("doc_id"), col("m.format").as("format"), col("m.width").as("width"),
          col("m.height").as("height"), col("m.duration_ms").as("duration_ms"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
        |  CASE WHEN substr(upper(hex(encode(text))), 1, 4) = 'FFD8' THEN 'jpeg'
        |       WHEN substr(upper(hex(encode(text))), 1, 4) = '8950' THEN 'png'
        |       WHEN substr(upper(hex(encode(text))), 1, 4) = '5249' THEN 'wav'
        |       ELSE 'raw' END AS format,
        |  octet_length(encode(text)) % 640 + 1 AS width,
        |  octet_length(encode(text)) % 480 + 1 AS height,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS duration_ms
        |FROM documents ORDER BY doc_id""".stripMargin)),
    // ---- multimodal: frame-sample explode (video frame plumbing) ---------
    QuerySpec("q55_frame_sample", (s, d) =>
      Tables.documents(s, d).filter(col("n_chars") > 0)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("content"))
        .select(col("doc_id"),
          explode(graft.functions.MultimodalFunctions.frameOffsets(
            octet_length(col("content")), everyNth = 256, maxFrames = 32)).as("frame_offset"))
        .orderBy(col("doc_id"), col("frame_offset")),
      Some("""SELECT doc_id, unnest(generate_series(0,
        |    CAST(octet_length(encode(text)) AS BIGINT) - 1, 256)[1:32]) AS frame_offset
        |FROM documents WHERE n_chars > 0
        |ORDER BY doc_id, frame_offset""".stripMargin)),
    // ---- coded-frame VIDEO decode (MJPEG family): the checked-in MP4's
    // 'jpeg' track carries one complete baseline JPEG per frame — demuxed
    // by the sample tables and entropy-decoded on EXECUTORS
    // (MultimodalFunctions.decodeVideoFrames), frames emerging as raster
    // planes. The fixture (scripts/gen_mjpeg_fixture.py, an independent
    // pure-Python T.81 encoder + ISO-BMFF muxer) is built for EXACT
    // decode — DC-only blocks, unit quant table — so the oracle recomputes
    // every frame's pixel sum from the closed-form block formula in pure
    // SQL, independent of both JPEG implementations --------------------
    QuerySpec("q107_mjpeg_frames", (s, _) => {
      import s.implicits._
      val bytes = {
        val in = getClass.getResourceAsStream("/graft/tiny_mjpeg.mp4")
        try in.readAllBytes() finally in.close()
      }
      val media = s.createDataset(Seq(
        Multimodal.MediaRow(1L, "video", bytes,
          Multimodal.videoMeta(bytes).get)))
      Multimodal.decodeVideoFrames(media, everyNth = 1, maxFrames = 16)(s)
        .toDF()
        .select(col("frame_index").cast("long").as("frame_index"),
          col("time_ms"), col("sync"),
          col("height").cast("long").as("height"),
          col("width").cast("long").as("width"),
          aggregate(col("pixels"), lit(0L), (a, p) => a + p.cast("long"))
            .as("sum_px"))
        .orderBy(col("frame_index"))
    },
      // q107's oracle: the MJPEG fixture's closed-form block formula
      // v(f, br, bc) = ((f*53 + br*17 + bc*29) % 32)*8 + 4 summed over each
      // 48x32 frame's 6x4 constant blocks (scripts/gen_mjpeg_fixture.py) —
      // exact because the frames are DC-only with a unit quantization table,
      // so the sums are independent of both JPEG implementations
      Some("""SELECT f AS frame_index, CAST(f * 100 AS BIGINT) AS time_ms,
        |  true AS sync, CAST(32 AS BIGINT) AS height, CAST(48 AS BIGINT) AS width,
        |  CAST(sum(64 * (((f*53 + br*17 + bc*29) % 32) * 8 + 4)) AS BIGINT) AS sum_px
        |FROM range(6) a(f), range(4) b(br), range(6) c(bc)
        |GROUP BY f ORDER BY frame_index""".stripMargin)),
    // ---- coded-frame VIDEO decode, H.264: the checked-in MP4's 'avc1'
    // track carries baseline IDR frames (CAVLC + 4:2:0 intra prediction),
    // demuxed by the sample tables (avcC config + length-prefixed NALs)
    // and entropy-decoded on EXECUTORS by the native graft.sources
    // .H264Decode. The oracle pins each frame's luma-plane sum to the
    // INDEPENDENT pure-python encoder's reconstruction (scripts/
    // h264codec.py wrote the stream AND the expected pixels; a decode
    // drift of a single sample anywhere breaks the sum) ----------------
    QuerySpec("q158_h264_frames", (s, _) => {
      import s.implicits._
      val bytes = {
        val in = getClass.getResourceAsStream("/graft/tiny_h264.mp4")
        try in.readAllBytes() finally in.close()
      }
      val media = s.createDataset(Seq(
        Multimodal.MediaRow(1L, "video", bytes,
          Multimodal.videoMeta(bytes).get)))
      Multimodal.decodeVideoFrames(media, everyNth = 1, maxFrames = 16)(s)
        .toDF()
        .select(col("frame_index").cast("long").as("frame_index"),
          col("sync"),
          col("height").cast("long").as("height"),
          col("width").cast("long").as("width"),
          aggregate(col("pixels"), lit(0L), (a, p) => a + p.cast("long"))
            .as("sum_y"))
        .orderBy(col("frame_index"))
    },
      // q158's oracle is the INDEPENDENT python encoder's reconstruction,
      // pinned as literals (generated by scripts/gen_h264_fixture.py from
      // the committed .yuv): any decode drift in the Scala H.264 path
      // breaks a luma sum
      Some("""SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), TRUE, CAST(32 AS BIGINT), CAST(48 AS BIGINT), CAST(162751 AS BIGINT)),
        |  (CAST(1 AS BIGINT), TRUE, CAST(32 AS BIGINT), CAST(48 AS BIGINT), CAST(158932 AS BIGINT)),
        |  (CAST(2 AS BIGINT), TRUE, CAST(32 AS BIGINT), CAST(48 AS BIGINT), CAST(169669 AS BIGINT)))
        |  AS t(frame_index, sync, height, width, sum_y)
        |ORDER BY frame_index""".stripMargin)),
    // ---- audio spectral features through the REAL WAV decode path:
    // PCM synthesized from a documented integer formula, exported through
    // pcm16Wav, decoded back by the JDK's independent parser on executors,
    // then framed into exact Walsh-Hadamard band magnitudes + zcr/energy
    // (all integer arithmetic). The DuckDB oracle recomputes every
    // coefficient from the same formula via bit_count parity WITHOUT the
    // container round-trip - a single decoded sample off anywhere breaks
    // a band sum ----------------------------------------------------------
    QuerySpec("q163_audio_spectral", (s, _) => {
      import s.implicits._
      val rows = (0 until 8).map { id =>
        val samples = Array.tabulate(1024) { n =>
          (((id + 3).toLong * ((n.toLong * n) % 977) + 17L * n) % 4096 - 2048).toShort
        }
        val bytes = Multimodal.AudioCodec.pcm16Wav(samples, 8000)
        Multimodal.MediaRow(id.toLong, "audio", bytes,
          Multimodal.AudioCodec.decodeMeta(bytes).get)
      }
      Multimodal.audioSpectral(s.createDataset(rows), frameSize = 64, nBands = 4)(s)
        .toDF()
        .select(col("media_id"), col("frame").cast("long").as("frame"),
          col("zcr").cast("long").as("zcr"), col("energy").as("energy"),
          col("bands")(0).as("b0"), col("bands")(1).as("b1"),
          col("bands")(2).as("b2"), col("bands")(3).as("b3"))
        .orderBy(col("media_id"), col("frame"))
    },
      // q163: the oracle recomputes every Walsh-Hadamard coefficient from
      // the documented PCM formula via bit_count parity - integer-exact, no
      // container round-trip, so it independently checks the WAV decode
      Some("""WITH ids AS (SELECT unnest(generate_series(0, 7)) AS id),
        |s AS (SELECT id, list_transform(generate_series(0, 1023), n ->
        |    ((id + 3) * ((n*n) % 977) + 17 * n) % 4096 - 2048) AS x FROM ids),
        |fs AS (SELECT unnest(generate_series(0, 15)) AS f),
        |fr AS (SELECT id, f, list_slice(x, f*64 + 1, f*64 + 64) AS w FROM s CROSS JOIN fs),
        |c AS (SELECT id, f, w,
        |    list_transform(generate_series(0, 63), k ->
        |      abs(list_aggregate(list_transform(generate_series(0, 63), n ->
        |        w[n+1] * (CASE WHEN bit_count(CAST(n AS BIGINT) & k) % 2 = 0 THEN 1 ELSE -1 END)), 'sum'))) AS mag
        |  FROM fr)
        |SELECT CAST(id AS BIGINT) AS media_id, CAST(f AS BIGINT) AS frame,
        |  CAST(len(list_filter(generate_series(2, 64), i -> (w[i] >= 0) <> (w[i-1] >= 0))) AS BIGINT) AS zcr,
        |  CAST(list_aggregate(list_transform(w, v -> v*v), 'sum') AS BIGINT) AS energy,
        |  CAST(list_aggregate(list_slice(mag, 1, 16), 'sum') AS BIGINT) AS b0,
        |  CAST(list_aggregate(list_slice(mag, 17, 32), 'sum') AS BIGINT) AS b1,
        |  CAST(list_aggregate(list_slice(mag, 33, 48), 'sum') AS BIGINT) AS b2,
        |  CAST(list_aggregate(list_slice(mag, 49, 64), 'sum') AS BIGINT) AS b3
        |FROM c ORDER BY media_id, frame""".stripMargin)),
    // ---- H.264 P-frame decode through the full MP4 avc1 path: IDR + 3 P
    // pictures (quarter-pel MC, P_Skip, intra-in-P) decode SEQUENTIALLY
    // through one stateful decoder; the oracle pins each frame's luma sum
    // as literals from the independent python encoder's reconstruction
    // (scripts/gen_h264_fixture.py). sync is TRUE only for the IDR -------
    QuerySpec("q166_h264_pframes", (s, _) => {
      import s.implicits._
      val bytes = {
        val in = getClass.getResourceAsStream("/graft/tiny_h264p.mp4")
        try in.readAllBytes() finally in.close()
      }
      val media = s.createDataset(Seq(
        Multimodal.MediaRow(1L, "video", bytes,
          Multimodal.videoMeta(bytes).get)))
      Multimodal.decodeVideoFrames(media, everyNth = 1, maxFrames = 16)(s)
        .toDF()
        .select(col("frame_index").cast("long").as("frame_index"),
          col("sync"),
          col("height").cast("long").as("height"),
          col("width").cast("long").as("width"),
          aggregate(col("pixels"), lit(0L), (a, p) => a + p.cast("long"))
            .as("sum_y"))
        .orderBy(col("frame_index"))
    },
      // q166: same literal-luma-sum pinning for the P-frame chain — the
      // values are the python encoder's reconstruction sums printed by
      // scripts/gen_h264_fixture.py; only frame 0 (the IDR) is sync
      Some("""SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), TRUE, CAST(32 AS BIGINT), CAST(48 AS BIGINT), CAST(167604 AS BIGINT)),
        |  (CAST(1 AS BIGINT), FALSE, CAST(32 AS BIGINT), CAST(48 AS BIGINT), CAST(155622 AS BIGINT)),
        |  (CAST(2 AS BIGINT), FALSE, CAST(32 AS BIGINT), CAST(48 AS BIGINT), CAST(157617 AS BIGINT)),
        |  (CAST(3 AS BIGINT), FALSE, CAST(32 AS BIGINT), CAST(48 AS BIGINT), CAST(159439 AS BIGINT)))
        |  AS t(frame_index, sync, height, width, sum_y)
        |ORDER BY frame_index""".stripMargin)),
    // ---- DISTRIBUTED media-corpus decode: a directory of avc1 clips and
    // WAV tones scanned via binaryFile (file = task, the 100 TB media
    // shape), demuxed + entropy-decoded executor-side. Video oracle =
    // per-frame luma sums of the independent python encoder's
    // reconstruction; audio oracle = DuckDB recomputing frame energies
    // from the documented PCM formula WITHOUT the container round-trip --
    QuerySpec("q167_media_corpus", (s, _) => {
      import s.implicits._
      val dir = mediaCorpusDir()
      val vids = s.read.format("binaryFile").option("pathGlobFilter", "*.mp4")
        .load(dir)
        .select(col("path"), col("content")).as[(String, Array[Byte])]
        .map { case (path, bytes) =>
          val id = "clip_(\\d+)".r.findFirstMatchIn(path).get.group(1).toLong
          Multimodal.MediaRow(id, "video", bytes,
            Multimodal.videoMeta(bytes).get)
        }
      val vrows = Multimodal.decodeVideoFrames(vids, everyNth = 1,
          maxFrames = 8)(s)
        .toDF()
        .select(lit("video").as("kind"), col("media_id"),
          col("frame_index").cast("long").as("seq"),
          aggregate(col("pixels"), lit(0L), (a, p) => a + p.cast("long"))
            .as("metric"))
      val auds = s.read.format("binaryFile").option("pathGlobFilter", "*.wav")
        .load(dir)
        .select(col("path"), col("content")).as[(String, Array[Byte])]
        .map { case (path, bytes) =>
          val id = "tone_(\\d+)".r.findFirstMatchIn(path).get.group(1).toLong
          Multimodal.MediaRow(id, "audio", bytes,
            Multimodal.AudioCodec.decodeMeta(bytes).get)
        }
      val arows = Multimodal.audioSpectral(auds, frameSize = 64, nBands = 4)(s)
        .toDF()
        .select(lit("audio").as("kind"), col("media_id"),
          col("frame").cast("long").as("seq"),
          col("energy").cast("long").as("metric"))
      vrows.unionAll(arows)
        .orderBy(col("kind"), col("media_id"), col("seq"))
    },
      // q167: the video half pins the 8 corpus clips' per-frame luma sums
      // (python encoder reconstruction, scripts/gen_h264_fixture.py); the
      // audio half recomputes every frame energy from the PCM formula
      Some("""WITH v(media_id, seq, metric) AS (VALUES
        |  (CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(165554 AS BIGINT)),
        |  (CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(153469 AS BIGINT)),
        |  (CAST(0 AS BIGINT), CAST(2 AS BIGINT), CAST(158110 AS BIGINT)),
        |  (CAST(0 AS BIGINT), CAST(3 AS BIGINT), CAST(159075 AS BIGINT)),
        |  (CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(165867 AS BIGINT)),
        |  (CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(155640 AS BIGINT)),
        |  (CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(160638 AS BIGINT)),
        |  (CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(160114 AS BIGINT)),
        |  (CAST(2 AS BIGINT), CAST(0 AS BIGINT), CAST(171387 AS BIGINT)),
        |  (CAST(2 AS BIGINT), CAST(1 AS BIGINT), CAST(159694 AS BIGINT)),
        |  (CAST(2 AS BIGINT), CAST(2 AS BIGINT), CAST(159767 AS BIGINT)),
        |  (CAST(2 AS BIGINT), CAST(3 AS BIGINT), CAST(159172 AS BIGINT)),
        |  (CAST(3 AS BIGINT), CAST(0 AS BIGINT), CAST(165128 AS BIGINT)),
        |  (CAST(3 AS BIGINT), CAST(1 AS BIGINT), CAST(182786 AS BIGINT)),
        |  (CAST(3 AS BIGINT), CAST(2 AS BIGINT), CAST(178876 AS BIGINT)),
        |  (CAST(3 AS BIGINT), CAST(3 AS BIGINT), CAST(162032 AS BIGINT)),
        |  (CAST(4 AS BIGINT), CAST(0 AS BIGINT), CAST(163906 AS BIGINT)),
        |  (CAST(4 AS BIGINT), CAST(1 AS BIGINT), CAST(154218 AS BIGINT)),
        |  (CAST(4 AS BIGINT), CAST(2 AS BIGINT), CAST(159125 AS BIGINT)),
        |  (CAST(4 AS BIGINT), CAST(3 AS BIGINT), CAST(161488 AS BIGINT)),
        |  (CAST(5 AS BIGINT), CAST(0 AS BIGINT), CAST(164470 AS BIGINT)),
        |  (CAST(5 AS BIGINT), CAST(1 AS BIGINT), CAST(156899 AS BIGINT)),
        |  (CAST(5 AS BIGINT), CAST(2 AS BIGINT), CAST(161094 AS BIGINT)),
        |  (CAST(5 AS BIGINT), CAST(3 AS BIGINT), CAST(155993 AS BIGINT)),
        |  (CAST(6 AS BIGINT), CAST(0 AS BIGINT), CAST(165147 AS BIGINT)),
        |  (CAST(6 AS BIGINT), CAST(1 AS BIGINT), CAST(158635 AS BIGINT)),
        |  (CAST(6 AS BIGINT), CAST(2 AS BIGINT), CAST(163661 AS BIGINT)),
        |  (CAST(6 AS BIGINT), CAST(3 AS BIGINT), CAST(155154 AS BIGINT)),
        |  (CAST(7 AS BIGINT), CAST(0 AS BIGINT), CAST(169037 AS BIGINT)),
        |  (CAST(7 AS BIGINT), CAST(1 AS BIGINT), CAST(145030 AS BIGINT)),
        |  (CAST(7 AS BIGINT), CAST(2 AS BIGINT), CAST(163822 AS BIGINT)),
        |  (CAST(7 AS BIGINT), CAST(3 AS BIGINT), CAST(153802 AS BIGINT))),
        |ids AS (SELECT unnest(generate_series(0, 15)) AS id),
        |pcm AS (SELECT id, list_transform(generate_series(0, 1023), n ->
        |    ((id + 3) * ((n*n) % 977) + 17 * n) % 4096 - 2048) AS x FROM ids),
        |fs AS (SELECT unnest(generate_series(0, 15)) AS f),
        |a AS (SELECT id AS media_id, f AS seq,
        |    list_aggregate(list_transform(
        |      list_slice(x, f*64 + 1, f*64 + 64), v -> v*v), 'sum') AS metric
        |  FROM pcm CROSS JOIN fs)
        |SELECT 'video' AS kind, media_id, seq, metric FROM v
        |UNION ALL
        |SELECT 'audio' AS kind, CAST(media_id AS BIGINT),
        |  CAST(seq AS BIGINT), CAST(metric AS BIGINT) FROM a
        |ORDER BY kind, media_id, seq""".stripMargin)),
    // ---- image perceptual hash: real PNG decode → 32×32 luma grid →
    // native DCT sign hash (PHash64Expr). The battery PNGs are encoded
    // from an integer pixel formula, so the DuckDB oracle replays the
    // ENTIRE pipeline — pixels, 8×8 DCT block, AC median, sign bits —
    // from literals, proving decode + DCT + hash end-to-end -------------
    QuerySpec("q169_phash", (s, _) => {
      import s.implicits._
      val imgs = (0 until 12).map(i => (i.toLong, phashBatteryPng(i)))
      graft.functions.MultimodalFunctions
        .imagePhash(imgs.toDF("img_id", "content"), "img_id", "content")
        .orderBy(col("img_id"))
    },
      // full pHash replay from pixel literals: the same integer pixel
      // formula the battery PNGs were rendered from, the same 8×8 DCT
      // block (plain cosine sums), the 63-AC median (odd count — DuckDB's
      // median is the exact middle element), the same bit layout. DuckDB
      // computes its own cos()/sums, so decode+DCT+hash verify end-to-end.
      Some("""WITH px AS (
        |  SELECT img, x, y,
        |    ((x*7 + y*13 + img*29) * (x + y + img + 1) + x*y) % 256 AS v
        |  FROM generate_series(0,11) t0(img),
        |       generate_series(0,31) t1(x), generate_series(0,31) t2(y)
        |), dct AS (
        |  SELECT img, u, vv,
        |    SUM(v * cos((2*x+1)*u*pi()/64) * cos((2*y+1)*vv*pi()/64)) AS c
        |  FROM px, generate_series(0,7) tu(u), generate_series(0,7) tv(vv)
        |  GROUP BY img, u, vv
        |), med AS (
        |  SELECT img, median(c) AS m FROM dct
        |  WHERE NOT (u = 0 AND vv = 0) GROUP BY img
        |), bits AS (
        |  SELECT d.img, u*8 + vv AS k,
        |    CASE WHEN d.c > med.m THEN 1 ELSE 0 END AS b
        |  FROM dct d JOIN med ON d.img = med.img
        |)
        |SELECT img AS img_id,
        |  CAST(SUM(CASE WHEN b = 0 THEN 0
        |                WHEN k = 63 THEN -9223372036854775808
        |                ELSE (CAST(1 AS BIGINT) << k) END) AS BIGINT) AS phash
        |FROM bits GROUP BY img ORDER BY img_id""".stripMargin)),
    // ---- audio perceptual fingerprint: WAV decode → integer
    // Walsh–Hadamard sequency-band energies → Haitsma–Kalker
    // difference-sign hash (Afp64Expr). The oracle replays PCM formula →
    // WHT → energies → sign bits entirely in DuckDB — integer-exact end
    // to end, so the WAV container round-trip is independently proven
    // too (one decoded sample off anywhere flips energy bits) ------------
    QuerySpec("q172_audio_phash", (s, _) => {
      import s.implicits._
      val tones = (0 until 16).map { id =>
        val samples = Array.tabulate(1024) { n =>
          (((id + 3).toLong * ((n.toLong * n) % 977) + 17L * n) % 4096 - 2048).toShort
        }
        (id.toLong, graft.functions.MultimodalFunctions.AudioCodec.pcm16Wav(samples, 8000))
      }
      graft.functions.MultimodalFunctions
        .audioPhash(tones.toDF("media_id", "content"), "media_id", "content")
        .orderBy(col("media_id"))
    },
      // full audio-fingerprint replay: PCM formula → Walsh–Hadamard band
      // energies (integer, the q163 sign convention) → time/frequency
      // double-difference sign bits → BIGINT, all in DuckDB
      Some("""WITH ids AS (SELECT unnest(generate_series(0, 15)) AS id),
        |s AS (SELECT id, list_transform(generate_series(0, 1023), n ->
        |    ((id + 3) * ((n*n) % 977) + 17 * n) % 4096 - 2048) AS x FROM ids),
        |e AS (SELECT id, t, b,
        |    list_aggregate(list_transform(generate_series(0, 2), j ->
        |      (list_aggregate(list_transform(generate_series(0, 63), n ->
        |         x[t*64 + n + 1] * (CASE WHEN bit_count(CAST(n AS BIGINT) & (b*3 + j + 1)) % 2 = 0 THEN 1 ELSE -1 END)), 'sum')) ** 2), 'sum') AS en
        |  FROM s, generate_series(0, 4) tt(t), generate_series(0, 16) bb(b)),
        |d AS (SELECT a.id, a.t, a.b, (a.en - c.en) - (p.en - q.en) AS diff
        |  FROM e a JOIN e c ON c.id = a.id AND c.t = a.t AND c.b = a.b + 1
        |           JOIN e p ON p.id = a.id AND p.t = a.t - 1 AND p.b = a.b
        |           JOIN e q ON q.id = a.id AND q.t = a.t - 1 AND q.b = a.b + 1
        |  WHERE a.t >= 1 AND a.b <= 15)
        |SELECT id AS media_id,
        |  CAST(SUM(CASE WHEN diff <= 0 THEN 0
        |                WHEN (t-1)*16 + b = 63 THEN -9223372036854775808
        |                ELSE (CAST(1 AS BIGINT) << ((t-1)*16 + b)) END) AS BIGINT) AS afp
        |FROM d GROUP BY id ORDER BY media_id""".stripMargin)),
    // ---- video perceptual fingerprint over the committed media corpus:
    // binaryFile scan → demux → FIRST-keyframe H.264 decode → 32×32 luma
    // grid → the SAME native PHash64Expr as still images. Oracle = the
    // independent python encoder's frame-0 reconstruction pushed through
    // a python replay of pooling + DCT + median + sign bits ---------------
    QuerySpec("q173_video_phash", (s, _) => {
      import s.implicits._
      val dir = mediaCorpusDir()
      val vids = s.read.format("binaryFile").option("pathGlobFilter", "*.mp4")
        .load(dir)
        .select(col("path"), col("content")).as[(String, Array[Byte])]
        .map { case (path, bytes) =>
          ("clip_(\\d+)".r.findFirstMatchIn(path).get.group(1).toLong, bytes)
        }
        .toDF("media_id", "content")
      graft.functions.MultimodalFunctions
        .videoPhash(vids, "media_id", "content")
        .orderBy(col("media_id"))
    },
      // q173: literals from scripts/gen_h264_fixture.py — the python
      // encoder's frame-0 reconstructions pooled + DCT'd + sign-hashed by
      // an independent python replay of the PHash64Expr contract (margins
      // asserted > 1e-3 at generation)
      Some("""WITH v(media_id, phash) AS (VALUES
        |  (CAST(0 AS BIGINT), CAST(8636034951607170629 AS BIGINT)),
        |  (CAST(1 AS BIGINT), CAST(3676657861836354165 AS BIGINT)),
        |  (CAST(2 AS BIGINT), CAST(-6636563845715892555 AS BIGINT)),
        |  (CAST(3 AS BIGINT), CAST(3738160048424576709 AS BIGINT)),
        |  (CAST(4 AS BIGINT), CAST(2853554358855366165 AS BIGINT)),
        |  (CAST(5 AS BIGINT), CAST(-668106281696418235 AS BIGINT)),
        |  (CAST(6 AS BIGINT), CAST(4830352879577429605 AS BIGINT)),
        |  (CAST(7 AS BIGINT), CAST(8303120560622614037 AS BIGINT)))
        |SELECT media_id, phash FROM v ORDER BY media_id""".stripMargin)),
    // ---- the signature plane end-to-end: image + audio + video twins
    // planted (perturbed PNG, x2-gain and noisy tones, byte-dup clip),
    // per-modality perceptual hashes unioned into ONE (modality, id, sig)
    // table, near-dup pairs by hamming ≤ 4. Brute pairs at battery size;
    // at corpus scale the join becomes the simhash band-prefix bucketing
    // (same 64-bit signatures). Oracle replays all three hash families
    // AND the pair join in DuckDB ----------------------------------------
    QuerySpec("q174_crossmodal_neardup", (s, _) => {
      val D = graft.functions.DedupFunctions
      val sigs = crossmodalSigs(s)
      sigs.as("a").join(sigs.as("b"),
          col("a.modality") === col("b.modality") && col("a.id") < col("b.id"))
        .select(col("a.modality").as("modality"), col("a.id").as("id_a"),
          col("b.id").as("id_b"),
          D.hamming64(col("a.sig"), col("b.sig")).cast("long").as("dist"))
        .filter(col("dist") <= 4)
        .orderBy(col("modality"), col("id_a"), col("id_b"))
    },
      // q174: DuckDB replays ALL THREE hash families (image DCT pHash from
      // pixel formulas incl. the perturbed twin, audio WHT fingerprint from
      // PCM formulas incl. the gain/noise twins, video keyframe hashes from
      // the python-reconstruction literals incl. the byte-dup) AND the
      // hamming pair join itself
      Some((crossmodalSigSql + """
        |SELECT a.modality AS modality, a.id AS id_a, b.id AS id_b,
        |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS dist
        |FROM sigs a JOIN sigs b ON a.modality = b.modality AND a.id < b.id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 4
        |ORDER BY modality, id_a, id_b""".stripMargin))),
    // ---- the SAME cross-modal pairs through the band-prefix LSH
    // bucketed join (8 bands of 8 bits; pigeonhole gives total recall at
    // hamming ≤ 4 < 8, so the output is IDENTICAL to q174's brute join —
    // and the plan is equi-join-shaped: one hash exchange on
    // (modality, band, band_key), no cartesian anywhere; HammingLshSpec
    // asserts the plan). This is the shape the signature plane runs at
    // corpus scale: 10⁹ media items explode into 8 × 16-byte band rows,
    // the pixels/PCM never leave the scan ---------------------------------
    QuerySpec("q176_crossmodal_lsh", (s, _) => {
      graft.functions.DedupFunctions.neardupPairsByHamming64(
          crossmodalSigs(s), "sig", "id", partitionCols = Seq("modality"),
          bands = 8, maxDistance = 4)
        .select(col("modality"), col("id_a"), col("id_b"), col("dist"))
        .orderBy(col("modality"), col("id_a"), col("id_b"))
    },
      // q176: the banded-LSH formulation has TOTAL recall at hamming ≤ 4
      // (pigeonhole over 8 bands), so its oracle IS the brute pair join —
      // the same replay as q174; any bucketing loss would hash-mismatch
      Some((crossmodalSigSql + """
        |SELECT a.modality AS modality, a.id AS id_a, b.id AS id_b,
        |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS dist
        |FROM sigs a JOIN sigs b ON a.modality = b.modality AND a.id < b.id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 4
        |ORDER BY modality, id_a, id_b""".stripMargin))),
    // ---- persisted, appendable hamming signature index — incremental
    // media dedup, the 64-bit twin of q111's text LSH index: sign the
    // corpus ONCE into (band, band_key, modality, id, sig) parquet, then
    // probe each day's new media against it by broadcast equi-join —
    // no corpus re-decode, no corpus shuffle. Probe batch = the planted
    // twins (perturbed PNG, ×2-gain + noisy tones, byte-dup clip);
    // output = which ALREADY-INDEXED item each new item duplicates -------
    QuerySpec("q177_hamming_index", (s, _) => {
      val D = graft.functions.DedupFunctions
      val sigs = crossmodalSigs(s)
      val corpus = sigs.filter(
        (col("modality") === "image" && col("id") <= 11) ||
        (col("modality") === "audio" && col("id") <= 15) ||
        (col("modality") === "video" && col("id") <= 7))
      val twins = sigs.filter(
        (col("modality") === "image" && col("id") === 12) ||
        (col("modality") === "audio" && col("id") >= 16) ||
        (col("modality") === "video" && col("id") === 8))
      val dir = memoLayout("q177_hidx", "battery") { tmp =>
        D.writeHammingIndex(corpus, "sig", "id", tmp,
          partitionCols = Seq("modality"), bands = 8)
      }
      D.probeHammingIndex(s, dir, twins, "sig", "id",
          partitionCols = Seq("modality"), bands = 8, maxDistance = 4)
        .select(col("modality"), col("id_new"), col("id_index"), col("dist"))
        .orderBy(col("modality"), col("id_new"), col("id_index"))
    },
      // q177: probe twins × indexed corpus — the incremental-index answer
      // must equal the two-sided brute join restricted to (new, indexed)
      Some((crossmodalSigSql + """
        |SELECT a.modality AS modality, b.id AS id_new, a.id AS id_index,
        |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS dist
        |FROM sigs a JOIN sigs b ON a.modality = b.modality
        |WHERE ((b.modality = 'image' AND b.id = 12)
        |    OR (b.modality = 'audio' AND b.id >= 16)
        |    OR (b.modality = 'video' AND b.id = 8))
        |  AND ((a.modality = 'image' AND a.id <= 11)
        |    OR (a.modality = 'audio' AND a.id <= 15)
        |    OR (a.modality = 'video' AND a.id <= 7))
        |  AND bit_count(xor(a.sig, b.sig)) <= 4
        |ORDER BY modality, id_new, id_index""".stripMargin))),
    // ---- multi-keyframe video signatures + the planted RE-CUT twin:
    // gop_01 is gop_00 minus its first GOP, so a first-keyframe-only
    // hash misses it (their first keyframes sit 20 bits apart — the
    // python generator asserts the escape), but the k-keyframe signature
    // SETS share gop_00's second keyframe byte-identically. Pairing runs
    // the exploded per-keyframe signatures through the SAME band-prefix
    // LSH as everything else (min over shared-bucket keyframe pairs ≡
    // min-hamming ≤ τ by the total-recall guarantee) — never a clip×clip
    // cross join --------------------------------------------------------
    QuerySpec("q178_video_recut", (s, _) => {
      import s.implicits._
      val vids = s.read.format("binaryFile").option("pathGlobFilter", "*.mp4")
        .load(mediaCorpusDir(), mediaGopDir())
        .select(col("path"), col("content")).as[(String, Array[Byte])]
        .map { case (p, b) =>
          val id = "(clip|gop)_(\\d+)".r.findFirstMatchIn(p).map(m =>
            (if (m.group(1) == "gop") 8L else 0L) + m.group(2).toLong).get
          (id, b)
        }.toDF("media_id", "content")
      val sigs = graft.functions.MultimodalFunctions
        .videoPhashK(vids, "media_id", "content", maxKeyframes = 4)
      val perKey = sigs.select(col("media_id"), explode(col("phashes")).as("sig"))
      graft.functions.DedupFunctions
        .neardupPairsByHamming64(perKey, "sig", "media_id",
          bands = 8, maxDistance = 4)
        .groupBy(col("id_a"), col("id_b"))
        .agg(min(col("dist")).as("dist"))
        .orderBy(col("id_a"), col("id_b"))
    },
      // q178: literals from scripts/gen_h264_fixture.py section 15 — the
      // python encoder replays every keyframe reconstruction's pHash and
      // the min-hamming pairing; only the re-cut pair survives ≤ 4
      Some("""WITH v(id_a, id_b, dist) AS (VALUES
        |  (CAST(8 AS BIGINT), CAST(9 AS BIGINT), CAST(0 AS BIGINT)))
        |SELECT id_a, id_b, dist FROM v ORDER BY id_a, id_b""".stripMargin)),
    // ---- every keyframe signature pinned individually — the
    // multi-keyframe EXTRACTION oracle behind q178's pairing: demux →
    // per-IDR standalone decode → pHash, one row per (clip, keyframe
    // ordinal), hashes from the independent python encoder's replay ------
    QuerySpec("q179_video_keyframe_sigs", (s, _) => {
      import s.implicits._
      val vids = s.read.format("binaryFile").option("pathGlobFilter", "*.mp4")
        .load(mediaCorpusDir(), mediaGopDir())
        .select(col("path"), col("content")).as[(String, Array[Byte])]
        .map { case (p, b) =>
          val id = "(clip|gop)_(\\d+)".r.findFirstMatchIn(p).map(m =>
            (if (m.group(1) == "gop") 8L else 0L) + m.group(2).toLong).get
          (id, b)
        }.toDF("media_id", "content")
      graft.functions.MultimodalFunctions
        .videoPhashK(vids, "media_id", "content", maxKeyframes = 4)
        .select(col("media_id"),
          posexplode(col("phashes")).as(Seq("k", "phash")))
        .select(col("media_id"), col("k").cast("long").as("k"), col("phash"))
        .orderBy(col("media_id"), col("k"))
    },
      // q179: literals from scripts/gen_h264_fixture.py section 15 — one
      // row per (clip, keyframe ordinal), every signature the independent
      // python encoder's reconstruction replay produces
      Some("""WITH v(media_id, k, phash) AS (VALUES
        |  (CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(8636034951607170629 AS BIGINT)),
        |  (CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(3676657861836354165 AS BIGINT)),
        |  (CAST(2 AS BIGINT), CAST(0 AS BIGINT), CAST(-6636563845715892555 AS BIGINT)),
        |  (CAST(3 AS BIGINT), CAST(0 AS BIGINT), CAST(3738160048424576709 AS BIGINT)),
        |  (CAST(4 AS BIGINT), CAST(0 AS BIGINT), CAST(2853554358855366165 AS BIGINT)),
        |  (CAST(5 AS BIGINT), CAST(0 AS BIGINT), CAST(-668106281696418235 AS BIGINT)),
        |  (CAST(6 AS BIGINT), CAST(0 AS BIGINT), CAST(4830352879577429605 AS BIGINT)),
        |  (CAST(7 AS BIGINT), CAST(0 AS BIGINT), CAST(8303120560622614037 AS BIGINT)),
        |  (CAST(8 AS BIGINT), CAST(0 AS BIGINT), CAST(-2141083071260690843 AS BIGINT)),
        |  (CAST(8 AS BIGINT), CAST(1 AS BIGINT), CAST(2463658903366760053 AS BIGINT)),
        |  (CAST(9 AS BIGINT), CAST(0 AS BIGINT), CAST(2463658903366760053 AS BIGINT)))
        |SELECT media_id, k, phash FROM v ORDER BY media_id, k""".stripMargin))
  )
}
