package graft
package queries

import org.apache.spark.sql.functions._

import graft.functions._

/** Media operators (`multimodal_*`): container sniffing,
  * image/audio/video codecs and fingerprints, resizing and frame
  * sampling. */
object MultimodalQueries {
  import Shared._

  val specs: Seq[QuerySpec] = Seq(
    // ---- multimodal columns: REAL containers (WAV/BMP/PPM) built
    // in-engine; n_bytes is the true container size, so the oracle's
    // header arithmetic (44-byte RIFF, 54+stride*h BMP, ASCII P6)
    // certifies the encoders byte-for-byte ----
    QuerySpec("multimodal_meta", (s, dir) => {
      graft.operators.Multimodal
        .synthesizeMedia(s.read.parquet(s"$dir/documents.parquet"))
        .toDF()
        .select(col("doc_id"), col("format"), col("n_bytes"))
        .orderBy(col("doc_id").asc)
    },
      multimodalMetaOracle),

    // ---- multimodal REAL decode: parse the WAV/BMP/PPM containers
    // (RIFF chunk walk, BMP BGR/bottom-up/stride undo, P6 header) and
    // derive per-channel stats from the DECODED samples; the oracle
    // recomputes every stat from the payload bytes, so header parsing,
    // channel-order normalization and padding must all be exact ----
    QuerySpec("multimodal_features", (s, dir) => {
      val media = graft.operators.Multimodal
        .synthesizeMedia(s.read.parquet(s"$dir/documents.parquet"))
      graft.operators.Multimodal.decodeStats(s, media)
        .toDF()
        .select(col("doc_id"), col("format"), col("width"),
          col("height"), col("n_samples"), col("c0_milli"),
          col("c1_milli"), col("c2_milli"))
        .orderBy(col("doc_id").asc)
    },
      multimodalFeaturesOracle),

    // ---- PNG decode (Inflater + all five scanline filters): every
    // document wrapped in a real compressed PNG, then decoded back —
    // the oracle recomputes the channel stats from raw payload
    // arithmetic, so zlib round-trip and filter inversion must be
    // byte-exact for the row to hash-match ----
    QuerySpec("multimodal_png", (s, dir) => {
      val media = graft.operators.Multimodal
        .synthesizePng(s.read.parquet(s"$dir/documents.parquet"))
      graft.operators.Multimodal.decodeStats(s, media)
        .toDF()
        .select(col("doc_id"), col("format"), col("width"),
          col("height"), col("n_samples"), col("c0_milli"),
          col("c1_milli"), col("c2_milli"))
        .orderBy(col("doc_id").asc)
    },
      multimodalPngOracle),

    // ---- GRAYSCALE PNG (color type 0): same zlib + filter
    // round-trip, but 1 byte/pixel scanlines — the oracle pins all
    // three channel means to the payload mean, which only matches if
    // the bpp-aware filter inversion and GRAY→RGB replication in
    // toRgb are exact ----
    QuerySpec("multimodal_png_gray", (s, dir) => {
      val media = graft.operators.Multimodal
        .synthesizePngGray(s.read.parquet(s"$dir/documents.parquet"))
      graft.operators.Multimodal.decodeStats(s, media)
        .toDF()
        .select(col("doc_id"), col("format"), col("width"),
          col("height"), col("n_samples"), col("c0_milli"),
          col("c1_milli"), col("c2_milli"))
        .orderBy(col("doc_id").asc)
    },
      multimodalPngGrayOracle),

    // ---- PALETTED PNG (color type 3): payload bytes are palette
    // indices against a deterministic 256-entry PLTE; stats are over
    // the EXPANDED RGB, so the row only hash-matches if the PLTE
    // chunk, 1-byte filter stride, and index→RGB lookup are exact ----
    QuerySpec("multimodal_png_palette", (s, dir) => {
      val media = graft.operators.Multimodal
        .synthesizePngPaletted(s.read.parquet(s"$dir/documents.parquet"))
      graft.operators.Multimodal.decodeStats(s, media)
        .toDF()
        .select(col("doc_id"), col("format"), col("width"),
          col("height"), col("n_samples"), col("c0_milli"),
          col("c1_milli"), col("c2_milli"))
        .orderBy(col("doc_id").asc)
    },
      multimodalPngPaletteOracle),

    // ---- RGBA PNG (color type 6): every 4th payload byte becomes
    // the alpha lane; stats are alpha-COMPOSITED over white with pure
    // integer rounding, so the row only hash-matches if the 4-byte
    // filter stride AND the composite formula are both exact ----
    QuerySpec("multimodal_png_rgba", (s, dir) => {
      val media = graft.operators.Multimodal
        .synthesizePngRgba(s.read.parquet(s"$dir/documents.parquet"))
      graft.operators.Multimodal.decodeStats(s, media)
        .toDF()
        .select(col("doc_id"), col("format"), col("width"),
          col("height"), col("n_samples"), col("c0_milli"),
          col("c1_milli"), col("c2_milli"))
        .orderBy(col("doc_id").asc)
    },
      multimodalPngRgbaOracle),

    // ---- GIF (87a/89a 8-bit LZW): payload bytes are palette indices
    // against the same deterministic 256-entry table as the paletted
    // PNG row, so the two formats share one oracle derivation — the
    // row only hash-matches if the logical-screen header, the global
    // color table, the variable-width LZW stream, and the index→RGB
    // expansion all round-trip exactly ----
    QuerySpec("multimodal_gif", (s, dir) => {
      val media = graft.operators.Multimodal
        .synthesizeGif(s.read.parquet(s"$dir/documents.parquet"))
      graft.operators.Multimodal.decodeStats(s, media)
        .toDF()
        .select(col("doc_id"), col("format"), col("width"),
          col("height"), col("n_samples"), col("c0_milli"),
          col("c1_milli"), col("c2_milli"))
        .orderBy(col("doc_id").asc)
    },
      multimodalPalettedOracle("image/gif", cap = Some(4L * 0xffff))),

    // ---- ANIMATED GIF frame sampling: every doc becomes a real
    // NETSCAPE2.0 animation (full-canvas 4×2 index frames, disposal
    // 1), every 4th COMPOSITED frame decoded; full-canvas opaque
    // frames make compositing the identity, so the oracle reads each
    // sampled frame's channel means straight off the payload slice
    // with the palette's modular arithmetic — LZW, the GCE walk, and
    // the per-frame canvas snapshot must all be exact ----
    QuerySpec("multimodal_gif_frames", (s, dir) => {
      val vid = graft.operators.Multimodal
        .synthesizeGifAnimated(s.read.parquet(s"$dir/documents.parquet"),
          frameRows = 2)
      graft.operators.Multimodal.sampleFrames(s, vid, everyN = 4)
        .toDF()
        .select(col("doc_id"), col("frame_idx"), col("width"),
          col("height"), col("r_milli"), col("g_milli"), col("b_milli"))
        .orderBy(col("doc_id").asc, col("frame_idx").asc)
    },
      multimodalGifFramesOracle),

    // ---- magic-byte media-format sniffing (vfs_media_format): a
    // mixed-format frame — every container family on disjoint id
    // lanes plus a RAW-payload lane — sniffed per row; container
    // lanes must sniff to their declared format, and the raw lane's
    // oracle reproduces the SAME magic-rule CASE chain over the
    // document bytes (a text that happens to start with "BM" or
    // "P6 " sniffs as that format ON BOTH SIDES) ----
    QuerySpec("multimodal_sniff", (s, dir) => {
      import graft.operators.Multimodal
      val docs = s.read.parquet(s"$dir/documents.parquet")
      def lane(k: Int) = docs.select(
        (col("doc_id") * 8 + k).as("doc_id"), col("text"))
      val parts = Seq(
        Multimodal.synthesizeMedia(lane(0)).toDF(),
        Multimodal.synthesizePng(lane(1)).toDF(),
        Multimodal.synthesizeJpeg(lane(2)).toDF(),
        Multimodal.synthesizeGif(lane(3)).toDF(),
        Multimodal.synthesizeTiff(lane(4), packBits = true).toDF(),
        lane(5).select(col("doc_id"),
          encode(col("text"), "UTF-8").as("media"),
          lit("application/octet-stream").as("format"),
          lit(0L).as("n_bytes")),
        Multimodal.synthesizeWebp(lane(6)).toDF())
      parts.reduce(_.unionByName(_))
        .select(col("doc_id"), col("format").as("declared"),
          graft.functions.vfs_media_format(col("media")).as("sniffed"))
        .orderBy(col("doc_id").asc)
    },
      multimodalSniffOracle),

    // ---- WebP VP8L lossless: the same 4-wide RGB geometry in a
    // real RIFF + VP8L container — the row only hash-matches if the
    // chunk walk, the LSB-first bitstream, the code-length-code
    // machinery, and the canonical prefix decode are all exact ----
    QuerySpec("multimodal_webp", (s, dir) => {
      val media = graft.operators.Multimodal
        .synthesizeWebp(s.read.parquet(s"$dir/documents.parquet"))
      graft.operators.Multimodal.decodeStats(s, media)
        .toDF()
        .select(col("doc_id"), col("format"), col("width"),
          col("height"), col("n_samples"), col("c0_milli"),
          col("c1_milli"), col("c2_milli"))
        .orderBy(col("doc_id").asc)
    },
      multimodalRgbRasterOracle("image/webp", cap = Some(12L * 16384))),

    // ---- baseline TIFF (II, uncompressed, single strip): the same
    // 4-wide RGB geometry as the truecolor PNG row, so the two share
    // one oracle derivation — the row only hash-matches if the IFD
    // walk, the tag decode, and the strip read are exact ----
    QuerySpec("multimodal_tiff", (s, dir) => {
      val media = graft.operators.Multimodal
        .synthesizeTiff(s.read.parquet(s"$dir/documents.parquet"))
      graft.operators.Multimodal.decodeStats(s, media)
        .toDF()
        .select(col("doc_id"), col("format"), col("width"),
          col("height"), col("n_samples"), col("c0_milli"),
          col("c1_milli"), col("c2_milli"))
        .orderBy(col("doc_id").asc)
    },
      multimodalRgbRasterOracle("image/tiff", cap = Some(12L * (1 << 20)))),

    // ---- PackBits TIFF, MULTI-STRIP (2 rows/strip): same pixels,
    // but the bytes ride the run-length codec and a strip table with
    // external offset/count arrays — IFD arrays, per-strip decode,
    // and reassembly must all be exact ----
    QuerySpec("multimodal_tiff_packbits", (s, dir) => {
      val media = graft.operators.Multimodal
        .synthesizeTiff(s.read.parquet(s"$dir/documents.parquet"),
          packBits = true)
      graft.operators.Multimodal.decodeStats(s, media)
        .toDF()
        .select(col("doc_id"), col("format"), col("width"),
          col("height"), col("n_samples"), col("c0_milli"),
          col("c1_milli"), col("c2_milli"))
        .orderBy(col("doc_id").asc)
    },
      multimodalRgbRasterOracle("image/tiff", cap = Some(12L * (1 << 20)))),

    // ---- baseline JPEG decode (GRAYSCALE): every doc wrapped in a
    // real JFIF file — one CONSTANT 8×8 block per payload byte, flat
    // q=8, where the lossy codec is EXACT (DC quantizes losslessly,
    // ACs are 0) — so the oracle pins the decoded stats from payload
    // arithmetic: Huffman, DC prediction, marker walk and IDCT must
    // all round-trip byte-exactly for the row to hash-match ----
    QuerySpec("multimodal_jpeg", (s, dir) => {
      val media = graft.operators.Multimodal
        .synthesizeJpeg(s.read.parquet(s"$dir/documents.parquet"))
      graft.operators.Multimodal.decodeStats(s, media)
        .toDF()
        .select(col("doc_id"), col("format"), col("width"),
          col("height"), col("n_samples"), col("c0_milli"),
          col("c1_milli"), col("c2_milli"))
        .orderBy(col("doc_id").asc)
    },
      multimodalJpegOracle),

    // ---- COLOR (4:4:4) JPEG: every 3 payload bytes one constant
    // (r,g,b) block — the DCT side stays exact, and the decoded
    // channels are the pinned JFIF RGB→YCbCr→RGB integer chain,
    // reproduced by the oracle per 3-byte group (floor(x+0.5) double
    // chains, clamped) ----
    QuerySpec("multimodal_jpeg_color", (s, dir) => {
      val media = graft.operators.Multimodal
        .synthesizeJpegColor(s.read.parquet(s"$dir/documents.parquet"))
      graft.operators.Multimodal.decodeStats(s, media)
        .toDF()
        .select(col("doc_id"), col("format"), col("width"),
          col("height"), col("n_samples"), col("c0_milli"),
          col("c1_milli"), col("c2_milli"))
        .orderBy(col("doc_id").asc)
    },
      multimodalJpegColorOracle(8)),

    // ---- 4:2:0 JPEG: constant 16×16 macroblocks, so the 2×2 chroma
    // box-average and the replication upsample round-trip exactly —
    // same oracle chain, 256 pixels per group ----
    QuerySpec("multimodal_jpeg_420", (s, dir) => {
      val media = graft.operators.Multimodal
        .synthesizeJpeg420(s.read.parquet(s"$dir/documents.parquet"))
      graft.operators.Multimodal.decodeStats(s, media)
        .toDF()
        .select(col("doc_id"), col("format"), col("width"),
          col("height"), col("n_samples"), col("c0_milli"),
          col("c1_milli"), col("c2_milli"))
        .orderBy(col("doc_id").asc)
    },
      multimodalJpegColorOracle(16)),

    // ---- JPEG through the resize family: decode the gray JPEG
    // (exact), GRAY→RGB replicate, NN-resize to 2×3, re-encode PNG,
    // decode again — the oracle picks the 3 sampled payload bytes
    // with the same (y·h)//h2 floor formula ----
    QuerySpec("multimodal_jpeg_resize", (s, dir) => {
      val media = graft.operators.Multimodal
        .synthesizeJpeg(s.read.parquet(s"$dir/documents.parquet"))
      val resized = graft.operators.Multimodal
        .resizeMedia(s, media, newWidth = 2, newHeight = 3)
      graft.operators.Multimodal.decodeStats(s, resized)
        .toDF()
        .select(col("doc_id"), col("format"), col("width"),
          col("height"), col("n_samples"), col("c0_milli"),
          col("c1_milli"), col("c2_milli"))
        .orderBy(col("doc_id").asc)
    },
      multimodalJpegResizeOracle),

    // ---- REAL 2-D image resize: every doc's PNG raster decoded,
    // nearest-neighbor-resized to 2×3, re-encoded as PNG, decoded
    // AGAIN for stats — the oracle recomputes the resized channel
    // means from payload arithmetic with the same NN index formula,
    // so decode → resize → encode → decode must all be exact ----
    QuerySpec("multimodal_resize", (s, dir) => {
      val media = graft.operators.Multimodal
        .synthesizePng(s.read.parquet(s"$dir/documents.parquet"))
      val resized = graft.operators.Multimodal
        .resizeMedia(s, media, newWidth = 2, newHeight = 3)
      graft.operators.Multimodal.decodeStats(s, resized)
        .toDF()
        .select(col("doc_id"), col("format"), col("width"),
          col("height"), col("n_samples"), col("c0_milli"),
          col("c1_milli"), col("c2_milli"))
        .orderBy(col("doc_id").asc)
    },
      multimodalResizeOracle),

    // ---- REAL video frame sampling: every doc wrapped as a
    // concatenated-P6 ppm stream (ffmpeg image2pipe format, one
    // header per frame), every 4th frame parsed out and decoded; the
    // oracle pins each sampled frame's channel means from the
    // zero-padded payload slice, so the sequential header walk and
    // per-frame decode must be byte-exact ----
    QuerySpec("multimodal_frames", (s, dir) => {
      val vid = graft.operators.Multimodal
        .synthesizeVideo(s.read.parquet(s"$dir/documents.parquet"),
          frameRows = 2)
      graft.operators.Multimodal.sampleFrames(s, vid, everyN = 4)
        .toDF()
        .select(col("doc_id"), col("frame_idx"), col("width"),
          col("height"), col("r_milli"), col("g_milli"), col("b_milli"))
        .orderBy(col("doc_id").asc, col("frame_idx").asc)
    },
      multimodalFramesOracle),

    // ---- ISO-BMFF (MP4) box walk: every doc wrapped in a REAL
    // single-video-track container (ftyp + mdat + moov with full
    // stbl sample tables, chunks of 2 samples so stsc has runs);
    // duration, handler/codec identity, and the stss keyframes
    // resolved through stsc/stco/stsz to byte positions — every
    // number recomputes from doc_id arithmetic alone ----
    // Plan (expect: spread exchange then ONE MapPartitions parse kernel
    // — the synthesize + trackMeta chain stays a scan, zero shuffle
    // after the spread)
    QuerySpec("multimodal_mp4_meta", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"))
      graft.operators.Mp4.trackMeta(s,
          graft.operators.Mp4.synthesizeMp4(docs))
        .orderBy(col("doc_id").asc)
    },
      // MP4 box walk: n = 1 + doc_id % 7 samples of size
      // 8 + (doc_id + i) % 5, keyframes every 3rd sample, 40 ms per
      // sample, sample data starting at byte 32 (24-byte ftyp + mdat
      // header) — duration, counts, and keyframe byte math all
      // recompute from doc_id
      s"""WITH p AS (SELECT doc_id, (1 + doc_id % 7) AS n FROM documents)
        |SELECT doc_id,
        |  CAST(n * 40 AS BIGINT) AS movie_duration_ms,
        |  CAST(1 AS BIGINT) AS n_tracks,
        |  CAST(1 AS BIGINT) AS track_id,
        |  'vide' AS handler,
        |  'gft1' AS codec,
        |  CAST(n * 40 AS BIGINT) AS track_duration_ms,
        |  CAST(n AS BIGINT) AS n_samples,
        |  false AS all_sync,
        |  CAST((n + 2) // 3 AS BIGINT) AS n_keyframes,
        |  CAST(list_sum([8 + (doc_id + i) % 5
        |    for i in range(0, n) if i % 3 = 0]) AS BIGINT) AS kf_bytes,
        |  CAST(32 AS BIGINT) AS first_kf_offset,
        |  CAST(32 + coalesce(list_sum([8 + (doc_id + i) % 5
        |    for i in range(0, 3 * ((n - 1) // 3))]), 0) AS BIGINT)
        |    AS last_kf_offset
        |FROM p ORDER BY doc_id ASC""".stripMargin),

    // ---- the keyframe fetch plan (one row per sync sample with its
    // byte range) — what a frame-sampling decode stage consumes ----
    QuerySpec("multimodal_mp4_keyframes", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"))
      graft.operators.Mp4.keyframeRanges(s,
          graft.operators.Mp4.synthesizeMp4(docs))
        .select(col("doc_id"), col("track_id"), col("sample_no"),
          col("offset").as("kf_offset"), col("size").as("kf_size"))
        .orderBy(col("doc_id").asc, col("sample_no").asc)
    },
      s"""WITH p AS (SELECT doc_id, (1 + doc_id % 7) AS n FROM documents),
        |k AS (SELECT doc_id, n, unnest(range(1, n + 1)) AS s FROM p)
        |SELECT doc_id, CAST(1 AS BIGINT) AS track_id,
        |  CAST(s AS BIGINT) AS sample_no,
        |  CAST(32 + coalesce(list_sum([8 + (doc_id + i) % 5
        |    for i in range(0, s - 1)]), 0) AS BIGINT) AS kf_offset,
        |  CAST(8 + (doc_id + s - 1) % 5 AS BIGINT) AS kf_size
        |FROM k WHERE (s - 1) % 3 = 0
        |ORDER BY doc_id ASC, sample_no ASC""".stripMargin),

    // ---- FLAC lossless audio: payload bytes as 16-bit samples
    // through real multi-frame FLAC (sync + CRC-8/16, constant /
    // verbatim / fixed-order-2 + Rice subframes picked per block) —
    // the row only hash-matches if the whole frame walk decodes
    // bit-exactly back to the payload ----
    QuerySpec("multimodal_flac", (s, dir) => {
      val media = graft.operators.Multimodal
        .synthesizeFlac(s.read.parquet(s"$dir/documents.parquet"))
      graft.operators.Multimodal.decodeStats(s, media)
        .toDF()
        .select(col("doc_id"), col("format"), col("width"),
          col("height"), col("n_samples"), col("c0_milli"),
          col("c1_milli"), col("c2_milli"))
        .orderBy(col("doc_id").asc)
    },
      // sample values derive from the UTF-8 BYTES of the payload (the
      // duckUtf8Bytes convention every byte-level multimodal/hash
      // oracle uses) — codepoint arithmetic would silently diverge from
      // the WAV byte stream on any non-ASCII corpus text
      // FLAC: samples are payload bytes (encoded as 16-bit values
      // 0..255), so the stats chain is the WAV byte arithmetic with
      // the engine's exact meanMilli(sum, n) double chain
      s"""WITH b AS (SELECT doc_id, $duckUtf8Bytes AS bs FROM documents),
        |s AS (SELECT doc_id, len(bs) AS n,
        |    COALESCE(list_sum(bs), 0) AS sm,
        |    COALESCE(list_max(bs), 0) AS mx,
        |    COALESCE(list_min(bs), 0) AS mn FROM b)
        |SELECT doc_id, 'audio/flac' AS format,
        |  CAST(0 AS INT) AS width, CAST(0 AS INT) AS height,
        |  CAST(n AS BIGINT) AS n_samples,
        |  CASE WHEN n = 0 THEN 0
        |    ELSE CAST(round(sm * 1000.0 / (255.0 * n)) AS BIGINT)
        |  END AS c0_milli,
        |  CASE WHEN n = 0 THEN 0
        |    ELSE CAST(round((mx * n) * 1000.0 / (255.0 * n)) AS BIGINT)
        |  END AS c1_milli,
        |  CASE WHEN n = 0 THEN 0
        |    ELSE CAST(round((mn * n) * 1000.0 / (255.0 * n)) AS BIGINT)
        |  END AS c2_milli
        |FROM s ORDER BY doc_id ASC""".stripMargin),

    // ---- FLAC through the DSP family: windowed energy/peak over
    // the decoded (signed, center-0) samples — the audio feature
    // pass now runs on FLAC corpora unchanged ----
    QuerySpec("multimodal_flac_energy", (s, dir) => {
      val media = graft.operators.Multimodal
        .synthesizeFlac(s.read.parquet(s"$dir/documents.parquet"))
      graft.operators.Multimodal.audioEnergyWindows(s, media,
          window = 64)
        .orderBy(col("doc_id").asc, col("win").asc)
    },
      // FLAC energy windows: center 0 (signed samples), else the
      // multimodal_audio_energy integer fold verbatim
      s"""WITH b AS (SELECT doc_id, $duckUtf8Bytes AS bs FROM documents),
        |s AS (SELECT doc_id, unnest(bs) AS v,
        |    unnest(range(1, len(bs) + 1)) AS i
        |  FROM b)
        |SELECT doc_id, CAST((i - 1) // 64 AS BIGINT) AS win,
        |  CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(sum(v * v) AS BIGINT) AS energy,
        |  CAST(max(abs(v)) AS BIGINT) AS peak
        |FROM s GROUP BY doc_id, win
        |ORDER BY doc_id ASC, win ASC""".stripMargin),

    // ---- windowed audio energy/peak over decoded WAV PCM: exact
    // integer fold per 64-sample window (8-bit samples centered at
    // 128) — the oracle reproduces every value from the payload
    // characters, pinning the container round trip too ----
    QuerySpec("multimodal_audio_energy", (s, dir) => {
      val media = graft.operators.Multimodal
        .synthesizeMedia(s.read.parquet(s"$dir/documents.parquet"))
        .filter(col("format") === "audio/wav")
        .as[graft.operators.MediaRecord](
          org.apache.spark.sql.Encoders.product[graft.operators.MediaRecord])
      graft.operators.Multimodal.audioEnergyWindows(s, media, window = 64)
        .orderBy(col("doc_id").asc, col("win").asc)
    },
      s"""WITH b AS (SELECT doc_id, $duckUtf8Bytes AS bs
        |  FROM documents WHERE doc_id % 3 = 0),
        |s AS (SELECT doc_id, unnest(bs) AS v,
        |    unnest(range(1, len(bs) + 1)) AS i
        |  FROM b)
        |SELECT doc_id, CAST((i - 1) // 64 AS BIGINT) AS win,
        |  CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(sum((v - 128) * (v - 128)) AS BIGINT) AS energy,
        |  CAST(max(abs(v - 128)) AS BIGINT) AS peak
        |FROM s GROUP BY doc_id, win
        |ORDER BY doc_id ASC, win ASC""".stripMargin),

    // ---- audio near-dup: energy-delta sign fingerprints (64-bit,
    // exact integer pipeline from payload bytes) banded 4×16 through
    // the shared bucket fold — the audio twin of dedup_simhash. The
    // corpus is an all-WAV mapping of the documents table (ids ×3 so
    // every asset lands on the WAV branch) plus an identical-payload
    // twin for every 10th doc, so crafted duplicates guarantee
    // hamming-0 pairs and the corpus's own near-collisions keep the
    // banding honest ----
    QuerySpec("multimodal_audio_neardup", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val aud = docs.select((col("doc_id") * 3).as("doc_id"),
          col("text"))
        .unionByName(docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") * 3 + lit(900000L)).as("doc_id"),
            col("text")))
      val media = graft.operators.Multimodal.synthesizeMedia(aud)
      graft.operators.Multimodal.audioNearDupPairs(s, media,
          maxHamming = 3, window = 4)
        .orderBy(col("a").asc, col("b").asc)
    },
      // audio near-dup: window energies from payload bytes (the same
      // integer fold as multimodal_audio_energy), per-doc energy list
      // ordered by window, sign-of-delta 63-bit signature, 4×16-bit
      // band blocking with the 1000-cap, all-pairs hamming <= 3 —
      // pigeonhole makes the banded result EQUAL the all-pairs result,
      // which is what this computes
      s"""WITH $audioSigCtes,
        |${sigBandFoldTail(16)}""".stripMargin),

    // ---- the standing fingerprint artifact: build the corpus's
    // (id, sig) prints ONCE (media bytes never stored), append a
    // late chunk, probe the delta twins against it — the media twin
    // of the incremental LSH/IVF/gram artifacts. Frozen `family`
    // guards against mixing fingerprint kernels ----
    QuerySpec("multimodal_audio_incremental", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      def prints(d: org.apache.spark.sql.DataFrame) =
        graft.operators.Multimodal.audioFingerprint(s,
            graft.operators.Multimodal.synthesizeMedia(d), window = 4)
          .select(col("doc_id").as("id"), col("sig"))
      val corpus = docs.select((col("doc_id") * 3).as("doc_id"),
        col("text"))
      val delta = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") * 3 + lit(900000L)).as("doc_id"),
          col("text"))
      val idx = java.nio.file.Files
        .createTempDirectory("verify-sigidx").toString
      graft.operators.SigIndex.build(
        prints(corpus.filter(col("doc_id") < 900)), idx,
        "audio-energy-w4")
      graft.operators.SigIndex.append(
        prints(corpus.filter(col("doc_id") >= 900)), idx,
        "audio-energy-w4")
      graft.operators.SigIndex.probe(s, idx, prints(delta),
          "audio-energy-w4", maxHamming = 3)
        .orderBy(col("probe_id").asc, col("corpus_id").asc)
    },
      // the standing sig-index probe: delta prints (the +900000 twins)
      // vs the indexed corpus prints, stored-side buckets capped at
      // their CURRENT size, inline hamming — shares the audio sig
      // derivation verbatim
      s"""WITH $audioSigCtes,
        |${sigProbeTail("doc_id < 900000")}""".stripMargin),

    // ---- takedown twin: hard-delete the prints of original
    // doc_id < 50 (ids 0,3,...,147) from the standing artifact and
    // re-probe — a deleted asset never surfaces as a candidate again,
    // and the bucket cap re-evaluates over the post-delete table ----
    QuerySpec("multimodal_audio_takedown", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      def prints(d: org.apache.spark.sql.DataFrame) =
        graft.operators.Multimodal.audioFingerprint(s,
            graft.operators.Multimodal.synthesizeMedia(d), window = 4)
          .select(col("doc_id").as("id"), col("sig"))
      val corpus = docs.select((col("doc_id") * 3).as("doc_id"),
        col("text"))
      val delta = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") * 3 + lit(900000L)).as("doc_id"),
          col("text"))
      val idx = java.nio.file.Files
        .createTempDirectory("verify-sigidx-td").toString
      graft.operators.SigIndex.build(prints(corpus), idx,
        "audio-energy-w4")
      val removed = graft.operators.SigIndex.deleteIds(s, idx,
        (0L until 50L).map(_ * 3L))
      require(removed > 0L, "[GRAFT] takedown removed no sig rows")
      graft.operators.SigIndex.probe(s, idx, prints(delta),
          "audio-energy-w4", maxHamming = 3)
        .orderBy(col("probe_id").asc, col("corpus_id").asc)
    },
      // takedown twin: corpus prints for original doc_id < 50 (ids
      // 0,3,...,147) hard-deleted — the pairs they anchored vanish and
      // the bucket cap re-evaluates over the post-delete table
      s"""WITH $audioSigCtes,
        |${sigProbeTail("doc_id < 900000 AND doc_id >= 150")}""".stripMargin),

    // ---- DCT perceptual hash (pHash): 32×32 NN luma → fixed-point
    // 2-D DCT → low-band median threshold — exact integer arithmetic,
    // every bit pinned from payload bytes ----
    QuerySpec("multimodal_phash", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val img = docs.select((col("doc_id") * 3 + 2).as("doc_id"),
        col("text"))
      graft.operators.Multimodal.imagePHash(s,
          graft.operators.Multimodal.synthesizeMedia(img))
        .select(col("doc_id"), col("sig"))
        .orderBy(col("doc_id").asc)
    },
      // pHash: every bit of the DCT low-band median-threshold hash
      // re-derived from payload bytes (fixed-point cosine table shared
      // with the engine via one Scala constant)
      s"""WITH ${phashSigCtesOver(
              "SELECT doc_id * 3 + 2 AS doc_id, text FROM documents")}
        |SELECT doc_id, s AS sig FROM sig
        |ORDER BY doc_id ASC""".stripMargin),

    // ---- pHash near-dup pairs through the SAME banded fold as the
    // dHash family (method = "phash" opt-in): the +900000 twins
    // guarantee hamming-0 pairs the oracle must also find ----
    QuerySpec("multimodal_phash_neardup", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val img = docs.select((col("doc_id") * 3 + 2).as("doc_id"),
          col("text"))
        .unionByName(docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") * 3 + 2 + lit(900000L)).as("doc_id"),
            col("text")))
      graft.operators.Multimodal.imageNearDupPairs(s,
          graft.operators.Multimodal.synthesizeMedia(img),
          maxHamming = 3, method = "phash")
        .orderBy(col("a").asc, col("b").asc)
    },
      // pHash near-dup: the same banded 4×16 fold over the pHash sig
      // table (pigeonhole makes banded = all-pairs at hamming ≤ 3)
      s"""WITH ${phashSigCtesOver(
              """SELECT doc_id * 3 + 2 AS doc_id, text FROM documents
                |  UNION ALL
                |  SELECT doc_id * 3 + 2 + 900000 AS doc_id, text
                |  FROM documents WHERE doc_id % 10 = 0""".stripMargin)},
        |${sigBandFoldTail(16)}""".stripMargin),

    // ---- EXIF-orientation-aware dedup, oracle-pinned: every doc's
    // upright TIFF plus a camera-rotated twin (stored pixels
    // transformed by the INVERSE of orientation k = id % 8 + 1, tag
    // 274 = k) — the exif-aware fingerprint must upright the twin,
    // so BOTH rows hash to the oracle's single upright derivation
    // and the oriented dimensions come back 4 × h ----
    QuerySpec("multimodal_exif", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val upright = graft.operators.Multimodal.synthesizeTiff(docs)
      val rotated = graft.operators.Multimodal.synthesizeTiffRotated(
        docs.select((col("doc_id") + 900000L).as("doc_id"),
          col("text")))
      graft.operators.Multimodal.imageFingerprint(s,
          upright.unionByName(rotated), exifAware = true)
        .select(col("doc_id"), col("sig"), col("width"), col("height"))
        .orderBy(col("doc_id").asc)
    },
      // EXIF orientation: the rotated twin (+900000, tag 274 = k) must
      // hash-match its upright original, so ONE derivation — the
      // 4-wide dHash from payload bytes — covers both id ranges; the
      // oriented dimensions must also come back upright (4 × h)
      s"""WITH ${imageSigCtesOver(
              """SELECT doc_id, text FROM documents
                |  UNION ALL
                |  SELECT doc_id + 900000 AS doc_id, text
                |  FROM documents""".stripMargin)}
        |SELECT sig.doc_id, sig.s AS sig,
        |  4 AS width, CAST(p.h AS INTEGER) AS height
        |FROM sig JOIN p USING (doc_id)
        |ORDER BY doc_id ASC""".stripMargin),

    // ---- per-asset decode QUARANTINE: every 37th asset's container
    // is truncated to 20 bytes (sniff-valid magic, body-corrupt —
    // the routine web-crawl failure), and the quarantined kernel
    // routes those to (doc_id, err) rows instead of failing the
    // stage; clean rows are bit-identical to the strict kernel ----
    QuerySpec("multimodal_quarantine", (s, dir) => {
      graft.operators.Multimodal.imageFingerprintQuarantined(s,
          corruptedPpmCorpus(s, dir))
        .select(col("doc_id"),
          coalesce(col("sig"), lit(-1L)).as("sig"),
          coalesce(col("width"), lit(-1)).as("width"),
          coalesce(col("height"), lit(-1)).as("height"),
          col("err").isNotNull.as("quarantined"))
        .orderBy(col("doc_id").asc)
    },
      // decode quarantine: every 37th asset is truncated (decode must
      // throw → sentinel -1 columns + quarantined=true); clean assets
      // re-derive the dHash sig from payload arithmetic — proving the
      // quarantined kernel's clean half equals the strict kernel
      s"""WITH ${imageSigCtesOver(
              "SELECT doc_id * 3 + 2 AS doc_id, text FROM documents")}
        |SELECT p.doc_id,
        |  CASE WHEN p.doc_id % 37 = 0 THEN CAST(-1 AS BIGINT)
        |    ELSE sig.s END AS sig,
        |  CASE WHEN p.doc_id % 37 = 0 THEN -1 ELSE 4 END AS width,
        |  CASE WHEN p.doc_id % 37 = 0 THEN -1
        |    ELSE CAST(p.h AS INTEGER) END AS height,
        |  p.doc_id % 37 = 0 AS quarantined
        |FROM p JOIN sig USING (doc_id)
        |ORDER BY doc_id ASC""".stripMargin),

    // ---- AUDIO quarantine twin: FLAC corpus with every 37th asset
    // truncated to 20 bytes (the fLaC magic survives, STREAMINFO is
    // cut) — corrupt assets route to err rows, clean prints are
    // bit-identical to the strict audioFingerprint (window 4, FLAC
    // samples are the raw payload bytes, energies = Σ v²) ----
    QuerySpec("multimodal_audio_quarantine", (s, dir) => {
      import s.implicits._
      val media = graft.operators.Multimodal
        .synthesizeFlac(s.read.parquet(s"$dir/documents.parquet"))
        .toDF()
        .withColumn("media",
          when(col("doc_id") % 37 === 0, expr("substring(media, 1, 20)"))
            .otherwise(col("media")))
        .withColumn("n_bytes", length(col("media")).cast("long"))
        .as[graft.operators.MediaRecord]
      graft.operators.Multimodal
        .audioFingerprintQuarantined(s, media, window = 4)
        .select(col("doc_id"),
          coalesce(col("sig"), lit(-1L)).as("sig"),
          coalesce(col("n_windows"), lit(-1L)).as("n_windows"),
          col("err").isNotNull.as("quarantined"))
        .orderBy(col("doc_id").asc)
    },
      // AUDIO quarantine twin: clean FLAC prints recompute from
      // payload bytes (raw v as 16-bit samples, window-4 energies,
      // sign-of-delta fold); corrupt = doc_id % 37 rows carry the
      // sentinel values; zero-sample clean docs emit no print row
      // (the strict path's omit stance)
      s"""WITH d AS (SELECT doc_id, text FROM documents
        |    WHERE doc_id % 37 <> 0),
        |b AS (SELECT doc_id, ${duckUtf8BytesOf("text")} AS bs FROM d),
        |st AS (SELECT doc_id, unnest(bs) AS v,
        |    unnest(range(1, len(bs) + 1)) AS i FROM b),
        |e AS (SELECT doc_id, (i - 1) // 4 AS win,
        |    sum(v * v) AS en FROM st GROUP BY doc_id, win),
        |el AS (SELECT doc_id, list(en ORDER BY win) AS es
        |  FROM e GROUP BY doc_id),
        |sig AS (SELECT doc_id, CAST(coalesce(list_sum(list_transform(
        |    range(0, least(len(es) - 1, 63)),
        |    j -> CASE WHEN es[CAST(j + 2 AS INTEGER)] > es[CAST(j + 1 AS INTEGER)]
        |         THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER))
        |         ELSE CAST(0 AS BIGINT) END)), 0) AS BIGINT) AS s,
        |    CAST(len(es) AS BIGINT) AS nw
        |  FROM el)
        |SELECT doc_id, s AS sig, nw AS n_windows,
        |  false AS quarantined FROM sig
        |UNION ALL
        |SELECT doc_id, CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), true
        |FROM documents WHERE doc_id % 37 = 0
        |ORDER BY doc_id ASC""".stripMargin),

    // ---- VIDEO quarantine twin: PPM-stream corpus with every 37th
    // asset truncated mid-header — same stance for the temporal
    // fingerprint path ----
    QuerySpec("multimodal_video_quarantine", (s, dir) => {
      import s.implicits._
      val media = graft.operators.Multimodal
        .synthesizeVideo(s.read.parquet(s"$dir/documents.parquet"),
          frameRows = 2)
        .toDF()
        .withColumn("media",
          when(col("doc_id") % 37 === 0, expr("substring(media, 1, 5)"))
            .otherwise(col("media")))
        .withColumn("n_bytes", length(col("media")).cast("long"))
        .as[graft.operators.MediaRecord]
      graft.operators.Multimodal.videoFingerprintQuarantined(s, media)
        .select(col("doc_id"),
          coalesce(col("sig"), lit(-1L)).as("sig"),
          coalesce(col("n_frames"), lit(-1L)).as("n_frames"),
          col("err").isNotNull.as("quarantined"))
        .orderBy(col("doc_id").asc)
    },
      // VIDEO quarantine twin: the shared frame-intensity derivation
      // over the clean docs (empty payload = one zero frame), corrupt
      // rows by residue
      s"""WITH ${videoSigCtesOver(
              "SELECT doc_id, text FROM documents WHERE doc_id % 37 <> 0")},
        |nf AS (SELECT d.doc_id,
        |    CAST(greatest(1, (coalesce(len(b.bs), 0) + 23) // 24)
        |      AS BIGINT) AS n
        |  FROM d LEFT JOIN b ON b.doc_id = d.doc_id)
        |SELECT sig.doc_id, sig.s AS sig, nf.n AS n_frames,
        |  false AS quarantined
        |FROM sig JOIN nf USING (doc_id)
        |UNION ALL
        |SELECT doc_id, CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), true
        |FROM documents WHERE doc_id % 37 = 0
        |ORDER BY doc_id ASC""".stripMargin),

    // ---- video near-dup: every doc wrapped in a real multi-frame
    // PPM-stream container (per-frame headers, genuine sequential
    // parse), collapsed to a 63-bit frame-intensity-delta fingerprint
    // INSIDE the decode kernel, paired by the shared banded fold;
    // every tenth doc gets an identical-payload twin, guaranteeing
    // hamming-0 pairs the oracle must also find ----
    QuerySpec("multimodal_video_neardup", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val vid = docs.select(col("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + lit(900000L)).as("doc_id"),
            col("text")))
      graft.operators.Multimodal.videoNearDupPairs(s,
          graft.operators.Multimodal.synthesizeVideo(vid, frameRows = 2),
          maxHamming = 3)
        .orderBy(col("a").asc, col("b").asc)
    },
      // the video twin: per-frame intensity = Σ payload bytes of that
      // 24-byte frame slice (frameRows=2 ⇒ 4×2 RGB = 24 bytes; the
      // zero-padded tail contributes nothing, so the partial-frame
      // group-by reproduces the padded sum exactly). The sig CTE LEFT
      // JOINs from d: an EMPTY text still synthesizes one all-zero
      // frame engine-side (sig 0, n_frames 1), so the oracle must emit
      // its sig-0 row too, not drop the doc
      s"""WITH $videoSigCtes,
        |${sigBandFoldTail(16)}""".stripMargin),

    // ---- the standing VIDEO fingerprint artifact: frame-intensity
    // prints through the same SigIndex build/append/probe lifecycle
    // as the audio family, under the frozen "video-intensity-f2" tag —
    // every modality's near-dup now has an incremental-artifact story ----
    QuerySpec("multimodal_video_incremental", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      def prints(d: org.apache.spark.sql.DataFrame) =
        graft.operators.Multimodal.videoFingerprint(s,
            graft.operators.Multimodal.synthesizeVideo(d, frameRows = 2))
          .select(col("doc_id").as("id"), col("sig"))
      val corpus = docs.select(col("doc_id"), col("text"))
      val delta = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + lit(900000L)).as("doc_id"),
          col("text"))
      val idx = java.nio.file.Files
        .createTempDirectory("verify-sigidx-vid").toString
      graft.operators.SigIndex.build(
        prints(corpus.filter(col("doc_id") < 300)), idx,
        "video-intensity-f2")
      graft.operators.SigIndex.append(
        prints(corpus.filter(col("doc_id") >= 300)), idx,
        "video-intensity-f2")
      graft.operators.SigIndex.probe(s, idx, prints(delta),
          "video-intensity-f2", maxHamming = 3)
        .orderBy(col("probe_id").asc, col("corpus_id").asc)
    },
      // the standing video artifact: delta prints (the +900000 twins)
      // vs the indexed corpus prints under the "video-intensity-f2"
      // family — shares the video sig derivation verbatim
      s"""WITH $videoSigCtes,
        |${sigProbeTail("doc_id < 900000")}""".stripMargin),

    // ---- image near-dup: every doc wrapped in a real P6 container
    // (ids ×3+2 so every asset lands on the PPM branch), decoded and
    // dHash'd INSIDE the per-partition kernel — real NN downsample to
    // 9×8, integer BT.601 luma, sign-of-horizontal-delta 63-bit sig —
    // then paired by the shared banded fold; every tenth doc gets an
    // identical-payload twin, guaranteeing hamming-0 pairs the oracle
    // must also find from pure payload-byte arithmetic ----
    QuerySpec("multimodal_image_neardup", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val img = docs.select((col("doc_id") * 3 + 2).as("doc_id"),
          col("text"))
        .unionByName(docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") * 3 + 2 + lit(900000L)).as("doc_id"),
            col("text")))
      graft.operators.Multimodal.imageNearDupPairs(s,
          graft.operators.Multimodal.synthesizeMedia(img), maxHamming = 3)
        .orderBy(col("a").asc, col("b").asc)
    },
      // image near-dup: dHash from payload bytes (the imageSigCtes
      // re-derivation of decode → RGB → NN 9×8 → BT.601 luma →
      // delta-sign), banded 4×16 with the 1000-cap, all-pairs hamming
      // ≤ 3 — pigeonhole makes the banded result EQUAL the all-pairs
      // result, which is what this computes
      s"""WITH $imageSigCtes,
        |${sigBandFoldTail(16)}""".stripMargin),

    // ---- the standing image artifact: dHash prints through the same
    // SigIndex build/append/probe lifecycle as the audio family, under
    // the frozen "image-dhash-9x8" fingerprint-family tag ----
    QuerySpec("multimodal_image_incremental", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      def prints(d: org.apache.spark.sql.DataFrame) =
        graft.operators.Multimodal.imageFingerprint(s,
            graft.operators.Multimodal.synthesizeMedia(d))
          .select(col("doc_id").as("id"), col("sig"))
      val corpus = docs.select((col("doc_id") * 3 + 2).as("doc_id"),
        col("text"))
      val delta = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") * 3 + 2 + lit(900000L)).as("doc_id"),
          col("text"))
      val idx = java.nio.file.Files
        .createTempDirectory("verify-sigidx-img").toString
      graft.operators.SigIndex.build(
        prints(corpus.filter(col("doc_id") < 900)), idx,
        "image-dhash-9x8")
      graft.operators.SigIndex.append(
        prints(corpus.filter(col("doc_id") >= 900)), idx,
        "image-dhash-9x8")
      graft.operators.SigIndex.probe(s, idx, prints(delta),
          "image-dhash-9x8", maxHamming = 3)
        .orderBy(col("probe_id").asc, col("corpus_id").asc)
    },
      // the standing image-dHash sig-index probe: delta prints (the
      // +900000 twins) vs the indexed corpus prints — shares the image
      // sig derivation verbatim
      s"""WITH $imageSigCtes,
        |${sigProbeTail("doc_id < 900000")}""".stripMargin)
  )

  /** Shared CTE chain deriving the video frame-intensity sig table
    * `sig(doc_id, s)` over the synthesized PPM-stream corpus
    * (originals at doc_id plus +900000 twins for every tenth doc):
    * per-frame intensity = Σ payload bytes of that 24-byte frame
    * slice (frameRows=2 ⇒ 4×2 RGB = 24 bytes; the zero-padded tail
    * contributes nothing, so the partial-frame group-by reproduces
    * the padded sum exactly), sign-of-delta fold. The sig CTE LEFT
    * JOINs from d: an EMPTY text still synthesizes one all-zero
    * frame engine-side (sig 0, n_frames 1), so the oracle must emit
    * its sig-0 row too, not drop the doc. */
  private def videoSigCtes: String = videoSigCtesOver(
    """SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 900000 AS doc_id, text FROM documents
      |  WHERE doc_id % 10 = 0""".stripMargin)

  /** The video-sig derivation parameterized over the doc list
    * `dBody` (the [[imageSigCtesOver]] convention) — shared by the
    * near-dup/incremental oracles and the quarantine twin, which
    * differ only in which docs feed the corpus. */
  private def videoSigCtesOver(dBody: String): String =
    s"""d AS ($dBody),
       |b AS (SELECT doc_id, ${duckUtf8BytesOf("text")} AS bs FROM d),
       |st AS (SELECT doc_id, unnest(bs) AS v,
       |    unnest(range(1, len(bs) + 1)) AS i
       |  FROM b),
       |e AS (SELECT doc_id, (i - 1) // 24 AS frm,
       |    CAST(sum(v) AS BIGINT) AS en
       |  FROM st GROUP BY doc_id, frm),
       |el AS (SELECT doc_id, list(en ORDER BY frm) AS es
       |  FROM e GROUP BY doc_id),
       |sig AS (SELECT d.doc_id, CAST(coalesce(list_sum(list_transform(
       |    range(0, least(coalesce(len(el.es) - 1, 0), 63)),
       |    j -> CASE WHEN el.es[CAST(j + 2 AS INTEGER)] > el.es[CAST(j + 1 AS INTEGER)]
       |         THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER))
       |         ELSE CAST(0 AS BIGINT) END)), 0) AS BIGINT) AS s
       |  FROM d LEFT JOIN el ON el.doc_id = d.doc_id)""".stripMargin

  /** pHash derivation over the 4-wide PPM geometry for the doc list
    * `dBody`: payload bytes → 32×32 NN luma → 2-D fixed-point DCT
    * (the cosine literal table is GENERATED from
    * [[operators.Multimodal.PhashCos]] — one source of truth) → the
    * 8×8 low band minus DC, thresholded at its median (sorted index
    * 32, 1-based). Exact integer arithmetic end to end; yields
    * `sig(doc_id, s)` for the shared band-fold/probe tails. */
  private def phashSigCtesOver(dBody: String): String = {
    val ct = graft.operators.Multimodal.PhashCos.mkString("[", ", ", "]")
    s"""d AS ($dBody),
       |b AS (SELECT doc_id, ${duckUtf8BytesOf("text")} AS bs0 FROM d),
       |p AS (SELECT doc_id,
       |    list_resize(bs0[1:greatest(12, len(bs0) - (len(bs0) % 12))],
       |      greatest(12, len(bs0) - (len(bs0) % 12)), 0) AS bs,
       |    greatest(12, len(bs0) - (len(bs0) % 12)) // 12 AS h
       |  FROM b),
       |ct AS (SELECT $ct AS c),
       |gl AS (SELECT doc_id, list_transform(range(0, 1024), k ->
       |    (299 * bs[CAST((((k // 32) * h) // 32 * 4 + (k % 32) // 8) * 3 + 1 AS INTEGER)]
       |   + 587 * bs[CAST((((k // 32) * h) // 32 * 4 + (k % 32) // 8) * 3 + 2 AS INTEGER)]
       |   + 114 * bs[CAST((((k // 32) * h) // 32 * 4 + (k % 32) // 8) * 3 + 3 AS INTEGER)]) // 1000) AS g
       |  FROM p),
       |tm AS (SELECT doc_id, g, c, list_transform(range(0, 256), t ->
       |    list_sum(list_transform(range(0, 32), x ->
       |      g[CAST((t % 32) * 32 + x + 1 AS INTEGER)]
       |        * c[CAST((t // 32) * 32 + x + 1 AS INTEGER)]))) AS tv
       |  FROM gl, ct),
       |fcte AS (SELECT doc_id, c, list_transform(range(0, 64), q ->
       |    list_sum(list_transform(range(0, 32), y ->
       |      tv[CAST((q % 8) * 32 + y + 1 AS INTEGER)]
       |        * c[CAST((q // 8) * 32 + y + 1 AS INTEGER)]))) AS fc
       |  FROM tm),
       |med AS (SELECT doc_id, fc, list_sort(fc[2:64])[32] AS m
       |  FROM fcte),
       |sig AS (SELECT doc_id, CAST(list_sum(list_transform(range(1, 64),
       |    j -> CASE WHEN fc[CAST(j + 1 AS INTEGER)] > m
       |      THEN (CAST(1 AS BIGINT) << CAST(j - 1 AS INTEGER))
       |      ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS s
       |  FROM med)""".stripMargin
  }

  /** Shared DuckDB tail reproducing [[operators.SigIndex.probe]]
    * over a `sig(doc_id, s)` CTE: the stored side is `corpusWhere`
    * (its CURRENT buckets capped at 1000), the delta side is the
    * +900000 twins, candidates join on the 4×16 bands, hamming
    * filters inline. */
  private def sigProbeTail(corpusWhere: String): String =
    s"""corpus AS (SELECT doc_id, s FROM sig WHERE $corpusWhere),
       |delta AS (SELECT doc_id, s FROM sig WHERE doc_id >= 900000),
       |cb AS (SELECT doc_id, s, band, bval FROM (
       |    SELECT c.doc_id, c.s, r.j AS band,
       |        (c.s >> (CAST(r.j AS INTEGER) * 16)) & 65535 AS bval,
       |        count(*) OVER (PARTITION BY r.j,
       |          (c.s >> (CAST(r.j AS INTEGER) * 16)) & 65535) AS bn
       |    FROM corpus c, range(0, 4) r(j)) WHERE bn <= 1000),
       |db AS (SELECT d2.doc_id, d2.s, r.j AS band,
       |    (d2.s >> (CAST(r.j AS INTEGER) * 16)) & 65535 AS bval
       |  FROM delta d2, range(0, 4) r(j)),
       |cand AS (SELECT DISTINCT db.doc_id AS probe_id,
       |    cb.doc_id AS corpus_id, db.s AS ps, cb.s AS cs
       |  FROM db JOIN cb ON db.band = cb.band AND db.bval = cb.bval)
       |SELECT probe_id, corpus_id,
       |  CAST(bit_count(xor(ps, cs)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(ps, cs)) <= 3
       |ORDER BY probe_id ASC, corpus_id ASC""".stripMargin

  /** Synthesized container format by doc_id % 3 — mirrors
    * [[graft.operators.Multimodal.synthesizeMedia]]. */
  private def duckMediaFormat: String =
    """CASE doc_id % 3 WHEN 0 THEN 'audio/wav'
      |  WHEN 1 THEN 'image/bmp' ELSE 'image/ppm' END""".stripMargin

  /** Container sizes from header arithmetic: WAV = 44-byte canonical
    * RIFF header + n payload bytes; BMP = 54-byte headers + stride*h
    * (width 4 → stride 12, no padding); PPM = "P6\n4 {h}\n255\n"
    * (10 + digits(h)) + payload. m = raster payload (whole 12-byte
    * rows, min one row). */
  private def multimodalMetaOracle: String =
    s"""WITH b AS (SELECT doc_id, octet_length(encode(text)) AS n
       |  FROM documents),
       |s AS (SELECT doc_id, n, greatest(12, n - (n % 12)) AS m FROM b)
       |SELECT doc_id, $duckMediaFormat AS format,
       |  CAST(CASE doc_id % 3
       |    WHEN 0 THEN 44 + n
       |    WHEN 1 THEN 54 + m
       |    ELSE 10 + length(CAST(m // 12 AS VARCHAR)) + m
       |  END AS BIGINT) AS n_bytes
       |FROM s ORDER BY doc_id ASC""".stripMargin

  /** Channel-mean milli over the zero-padded raster payload `pb`
    * (length m): stored byte index (i-1) % 3 == `c`. */
  private def duckChannelMilli(c: Int): String =
    s"""round(COALESCE(list_sum(list_transform(range(1, m + 1),
       |    i -> CASE WHEN (i - 1) % 3 = $c THEN pb[i] ELSE 0 END)), 0)
       |  * 1000.0 / (255.0 * (m // 3)))""".stripMargin

  /** Mirrors [[graft.operators.Multimodal.decodeStats]] from the raw
    * payload bytes: the engine must parse real containers (RIFF walk,
    * BMP bottom-up BGR stride undo, P6 header) to land on these same
    * numbers. BMP stores BGR → its R channel is stored index 2; PPM
    * stores RGB → R is stored index 0. Audio c0/c1/c2 =
    * mean/peak/trough of the PCM samples. */
  private def multimodalFeaturesOracle: String =
    s"""WITH b AS (SELECT doc_id, $duckUtf8Bytes AS bs FROM documents),
       |s AS (SELECT doc_id, bs, len(bs) AS n,
       |    greatest(12, len(bs) - (len(bs) % 12)) AS m FROM b),
       |p AS (SELECT doc_id, bs, n, m,
       |    list_transform(range(1, m + 1),
       |      i -> CASE WHEN i <= n THEN bs[i] ELSE 0 END) AS pb
       |  FROM s)
       |SELECT doc_id, $duckMediaFormat AS format,
       |  CAST(CASE WHEN doc_id % 3 = 0 THEN 0 ELSE 4 END AS INT) AS width,
       |  CAST(CASE WHEN doc_id % 3 = 0 THEN 0 ELSE m // 12 END AS INT)
       |    AS height,
       |  CAST(CASE WHEN doc_id % 3 = 0 THEN n ELSE m // 3 END AS BIGINT)
       |    AS n_samples,
       |  CAST(CASE WHEN doc_id % 3 = 0
       |      THEN CASE WHEN n = 0 THEN 0
       |        ELSE round(COALESCE(list_sum(bs), 0) * 1000.0 / (255.0 * n)) END
       |    WHEN doc_id % 3 = 1 THEN ${duckChannelMilli(2)}
       |    ELSE ${duckChannelMilli(0)} END AS BIGINT) AS c0_milli,
       |  CAST(CASE WHEN doc_id % 3 = 0
       |      THEN CASE WHEN n = 0 THEN 0
       |        ELSE round(list_max(bs) * 1000.0 / 255.0) END
       |    ELSE ${duckChannelMilli(1)} END AS BIGINT) AS c1_milli,
       |  CAST(CASE WHEN doc_id % 3 = 0
       |      THEN CASE WHEN n = 0 THEN 0
       |        ELSE round(list_min(bs) * 1000.0 / 255.0) END
       |    WHEN doc_id % 3 = 1 THEN ${duckChannelMilli(0)}
       |    ELSE ${duckChannelMilli(2)} END AS BIGINT) AS c2_milli
       |FROM p ORDER BY doc_id ASC""".stripMargin

  /** Mirrors [[graft.operators.Multimodal.synthesizePng]] +
    * `decodeStats`: every doc is a 4-wide RGB raster of its
    * zero-padded payload bytes, so the decoded channel means are pure
    * payload arithmetic — the engine only lands on them if the zlib
    * stream and all five scanline filters round-trip byte-exactly. */
  private def multimodalPngOracle: String =
    multimodalRgbRasterOracle("image/png", cap = None)

  /** Shared by the RGB-raster rows (truecolor PNG and the TIFF
    * twins) — the synthesizers use the SAME 4-wide 12-bytes/row
    * geometry, so only the declared format (and TIFF's 2^20-row
    * decode-guard cap: 12·2^20 payload bytes) differs. */
  private def multimodalRgbRasterOracle(format: String,
      cap: Option[Long]): String = {
    val mExpr = cap match {
      case Some(c) => s"least(greatest(12, len(bs) - (len(bs) % 12)), $c)"
      case None => "greatest(12, len(bs) - (len(bs) % 12))"
    }
    s"""WITH b AS (SELECT doc_id, $duckUtf8Bytes AS bs FROM documents),
       |s AS (SELECT doc_id, bs, len(bs) AS n,
       |    $mExpr AS m FROM b),
       |p AS (SELECT doc_id, bs, n, m,
       |    list_transform(range(1, m + 1),
       |      i -> CASE WHEN i <= n THEN bs[i] ELSE 0 END) AS pb
       |  FROM s)
       |SELECT doc_id, '$format' AS format,
       |  CAST(4 AS INT) AS width,
       |  CAST(m // 12 AS INT) AS height,
       |  CAST(m // 3 AS BIGINT) AS n_samples,
       |  CAST(${duckChannelMilli(0)} AS BIGINT) AS c0_milli,
       |  CAST(${duckChannelMilli(1)} AS BIGINT) AS c1_milli,
       |  CAST(${duckChannelMilli(2)} AS BIGINT) AS c2_milli
       |FROM p ORDER BY doc_id ASC""".stripMargin
  }

  /** Mirrors the `multimodal_sniff` lanes: container lanes sniff to
    * their declared format (the synthesizers emit real magic bytes);
    * the raw lane reproduces [[graft.functions.MediaSniff]]'s rule
    * chain — same rules, SAME ORDER — over the document bytes. */
  private def multimodalSniffOracle: String =
    s"""WITH b AS (SELECT doc_id, $duckUtf8Bytes AS bs FROM documents),
       |containers AS (
       |  SELECT doc_id * 8 AS mid,
       |    CASE WHEN (doc_id * 8) % 3 = 0 THEN 'audio/wav'
       |         WHEN (doc_id * 8) % 3 = 1 THEN 'image/bmp'
       |         ELSE 'image/ppm' END AS declared FROM documents
       |  UNION ALL SELECT doc_id * 8 + 1, 'image/png' FROM documents
       |  UNION ALL SELECT doc_id * 8 + 2, 'image/jpeg' FROM documents
       |  UNION ALL SELECT doc_id * 8 + 3, 'image/gif' FROM documents
       |  UNION ALL SELECT doc_id * 8 + 4, 'image/tiff' FROM documents
       |  UNION ALL SELECT doc_id * 8 + 6, 'image/webp' FROM documents),
       |raw AS (SELECT doc_id * 8 + 5 AS mid,
       |    'application/octet-stream' AS declared,
       |    CASE
       |      WHEN len(bs) >= 8 AND bs[1] = 137 AND bs[2] = 80
       |        AND bs[3] = 78 AND bs[4] = 71 AND bs[5] = 13
       |        AND bs[6] = 10 AND bs[7] = 26 AND bs[8] = 10
       |        THEN 'image/png'
       |      WHEN len(bs) >= 3 AND bs[1] = 255 AND bs[2] = 216
       |        AND bs[3] = 255 THEN 'image/jpeg'
       |      WHEN len(bs) >= 6 AND bs[1] = 71 AND bs[2] = 73
       |        AND bs[3] = 70 AND bs[4] = 56 AND bs[5] IN (55, 57)
       |        AND bs[6] = 97 THEN 'image/gif'
       |      WHEN len(bs) >= 4 AND ((bs[1] = 73 AND bs[2] = 73
       |          AND bs[3] = 42 AND bs[4] = 0)
       |        OR (bs[1] = 77 AND bs[2] = 77 AND bs[3] = 0
       |          AND bs[4] = 42)) THEN 'image/tiff'
       |      WHEN len(bs) >= 12 AND bs[1] = 82 AND bs[2] = 73
       |        AND bs[3] = 70 AND bs[4] = 70 AND bs[9] = 87
       |        AND bs[10] = 65 AND bs[11] = 86 AND bs[12] = 69
       |        THEN 'audio/wav'
       |      WHEN len(bs) >= 12 AND bs[1] = 82 AND bs[2] = 73
       |        AND bs[3] = 70 AND bs[4] = 70 AND bs[9] = 87
       |        AND bs[10] = 69 AND bs[11] = 66 AND bs[12] = 80
       |        THEN 'image/webp'
       |      WHEN len(bs) >= 4 AND bs[1] = 102 AND bs[2] = 76
       |        AND bs[3] = 97 AND bs[4] = 67 THEN 'audio/flac'
       |      WHEN len(bs) >= 3 AND bs[1] = 80 AND bs[2] = 54
       |        AND bs[3] IN (9, 10, 13, 32) THEN 'image/ppm'
       |      WHEN len(bs) >= 2 AND bs[1] = 66 AND bs[2] = 77
       |        THEN 'image/bmp'
       |    END AS sniffed FROM b)
       |SELECT mid AS doc_id, declared, declared AS sniffed
       |FROM containers
       |UNION ALL
       |SELECT mid AS doc_id, declared, sniffed FROM raw
       |ORDER BY doc_id ASC""".stripMargin

  /** Mirrors [[graft.operators.Multimodal.synthesizePngGray]] +
    * `decodeStats`: a 4-wide GRAYSCALE raster of the zero-padded
    * payload (4 bytes/row, min one row). GRAY→RGB replication means
    * every channel mean equals the payload byte mean. */
  private def multimodalPngGrayOracle: String =
    s"""WITH b AS (SELECT doc_id, $duckUtf8Bytes AS bs FROM documents),
       |s AS (SELECT doc_id, bs, len(bs) AS n,
       |    greatest(4, len(bs) - (len(bs) % 4)) AS m FROM b),
       |p AS (SELECT doc_id, n, m,
       |    round(COALESCE(list_sum(list_transform(range(1, m + 1),
       |        i -> CASE WHEN i <= n THEN bs[i] ELSE 0 END)), 0)
       |      * 1000.0 / (255.0 * m)) AS gm
       |  FROM s)
       |SELECT doc_id, 'image/png' AS format,
       |  CAST(4 AS INT) AS width,
       |  CAST(m // 4 AS INT) AS height,
       |  CAST(m AS BIGINT) AS n_samples,
       |  CAST(gm AS BIGINT) AS c0_milli,
       |  CAST(gm AS BIGINT) AS c1_milli,
       |  CAST(gm AS BIGINT) AS c2_milli
       |FROM p ORDER BY doc_id ASC""".stripMargin

  /** Mirrors [[graft.operators.Multimodal.synthesizePngPaletted]] +
    * `decodeStats`: payload bytes are palette indices on a 4-wide
    * raster; decoded channel c of a pixel with index b is
    * (b·mult_c) mod 256 for mult = (7, 13, 29) — the deterministic
    * palette formula — so the channel means are pure modular
    * arithmetic over the zero-padded bytes. */
  private def multimodalPngPaletteOracle: String =
    multimodalPalettedOracle("image/png", cap = None)

  /** Shared by the paletted-PNG and GIF rows — the two synthesizers
    * use the SAME geometry (4-wide, whole rows, one-row minimum) and
    * palette formula, so only the declared format (and GIF's 16-bit
    * height cap: 4·65535 payload bytes) differs. */
  private def multimodalPalettedOracle(format: String,
      cap: Option[Long]): String = {
    val mExpr = cap match {
      case Some(c) => s"least(greatest(4, len(bs) - (len(bs) % 4)), $c)"
      case None => "greatest(4, len(bs) - (len(bs) % 4))"
    }
    def chan(mult: Int): String =
      s"""round(COALESCE(list_sum(list_transform(pb,
         |    x -> (x * $mult) % 256)), 0) * 1000.0 / (255.0 * m))""".stripMargin
    s"""WITH b AS (SELECT doc_id, $duckUtf8Bytes AS bs FROM documents),
       |s AS (SELECT doc_id, bs, len(bs) AS n,
       |    $mExpr AS m FROM b),
       |p AS (SELECT doc_id, n, m,
       |    list_transform(range(1, m + 1),
       |      i -> CASE WHEN i <= n THEN bs[i] ELSE 0 END) AS pb
       |  FROM s)
       |SELECT doc_id, '$format' AS format,
       |  CAST(4 AS INT) AS width,
       |  CAST(m // 4 AS INT) AS height,
       |  CAST(m AS BIGINT) AS n_samples,
       |  CAST(${chan(7)} AS BIGINT) AS c0_milli,
       |  CAST(${chan(13)} AS BIGINT) AS c1_milli,
       |  CAST(${chan(29)} AS BIGINT) AS c2_milli
       |FROM p ORDER BY doc_id ASC""".stripMargin
  }

  /** Mirrors [[graft.operators.Multimodal.synthesizePngRgba]] +
    * `decodeStats`: a 4-wide RGBA raster of the zero-padded payload
    * (16 bytes/row, min one row), alpha-composited over white with
    * the decoder's exact integer rounding —
    * v = (c·a + 255·(255−a) + 127) // 255 — per channel. */
  private def multimodalPngRgbaOracle: String = {
    def chan(c: Int): String =
      s"""round(COALESCE(list_sum(list_transform(range(0, m // 4),
         |    j -> (pb[4*j + ${c + 1}] * pb[4*j + 4]
         |      + 255 * (255 - pb[4*j + 4]) + 127) // 255)), 0)
         |  * 1000.0 / (255.0 * (m // 4)))""".stripMargin
    s"""WITH b AS (SELECT doc_id, $duckUtf8Bytes AS bs FROM documents),
       |s AS (SELECT doc_id, bs, len(bs) AS n,
       |    greatest(16, len(bs) - (len(bs) % 16)) AS m FROM b),
       |p AS (SELECT doc_id, n, m,
       |    list_transform(range(1, m + 1),
       |      i -> CASE WHEN i <= n THEN bs[i] ELSE 0 END) AS pb
       |  FROM s)
       |SELECT doc_id, 'image/png' AS format,
       |  CAST(4 AS INT) AS width,
       |  CAST(m // 16 AS INT) AS height,
       |  CAST(m // 4 AS BIGINT) AS n_samples,
       |  CAST(${chan(0)} AS BIGINT) AS c0_milli,
       |  CAST(${chan(1)} AS BIGINT) AS c1_milli,
       |  CAST(${chan(2)} AS BIGINT) AS c2_milli
       |FROM p ORDER BY doc_id ASC""".stripMargin
  }

  /** Mirrors [[graft.operators.Multimodal.synthesizeJpeg]] +
    * `decodeStats`: one CONSTANT 8×8 luma block per payload byte, no
    * color conversion on the grayscale path and flat q=8 makes the
    * lossy codec exact — every channel mean equals the payload byte
    * mean (each byte owns the same 64 pixels). */
  private def multimodalJpegOracle: String =
    s"""WITH b AS (SELECT doc_id, $duckUtf8Bytes AS bs FROM documents),
       |s AS (SELECT doc_id, bs, len(bs) AS n,
       |    least(greatest(1, len(bs)), 8191) AS m FROM b),
       |p AS (SELECT doc_id, n, m,
       |    round(COALESCE(list_sum(list_transform(range(1, m + 1),
       |        i -> CASE WHEN i <= n THEN bs[i] ELSE 0 END)), 0)
       |      * 1000.0 / (255.0 * m)) AS gm
       |  FROM s)
       |SELECT doc_id, 'image/jpeg' AS format,
       |  CAST(8 AS INT) AS width,
       |  CAST(8 * m AS INT) AS height,
       |  CAST(64 * m AS BIGINT) AS n_samples,
       |  CAST(gm AS BIGINT) AS c0_milli,
       |  CAST(gm AS BIGINT) AS c1_milli,
       |  CAST(gm AS BIGINT) AS c2_milli
       |FROM p ORDER BY doc_id ASC""".stripMargin

  /** The pinned JFIF color chain of `MediaCodec.rgbToYcc`/`yccToRgb`
    * — floor(x + 0.5) on the same left-to-right double chains, every
    * literal CAST AS DOUBLE (DuckDB would otherwise run the products
    * in DECIMAL), clamped to [0, 255] — as SQL over per-group r/g/b
    * expressions. Returns the decoded (r', g', b') expressions. */
  private def duckJpegRoundTrip(rE: String, gE: String,
      bE: String): (String, String, String) = {
    def d(x: String) = s"CAST($x AS DOUBLE)"
    def cl(x: String) = s"least(255, greatest(0, floor($x + 0.5)))"
    val y = cl(s"${d("0.299")} * $rE + ${d("0.587")} * $gE + " +
      s"${d("0.114")} * $bE")
    val cb = cl(s"${d("-0.168736")} * $rE - ${d("0.331264")} * $gE + " +
      s"${d("0.5")} * $bE + 128")
    val cr = cl(s"${d("0.5")} * $rE - ${d("0.418688")} * $gE - " +
      s"${d("0.081312")} * $bE + 128")
    (cl(s"($y) + ${d("1.402")} * (($cr) - 128)"),
      cl(s"($y) - ${d("0.344136")} * (($cb) - 128) - " +
        s"${d("0.714136")} * (($cr) - 128)"),
      cl(s"($y) + ${d("1.772")} * (($cb) - 128)"))
  }

  /** Mirrors `synthesizeJpegColor` (side = 8, 4:4:4) and
    * `synthesizeJpeg420` (side = 16, 4:2:0) + `decodeStats`: every 3
    * payload bytes one constant side×side block, DCT exact, decoded
    * channels = the [[duckJpegRoundTrip]] chain per group (blocks are
    * equal-sized, so the pixel mean is the group mean). */
  private def multimodalJpegColorOracle(side: Int): String = {
    val (r2, g2, b2) = duckJpegRoundTrip("pb[3*j + 1]", "pb[3*j + 2]",
      "pb[3*j + 3]")
    val cap = 65535 / side // the engine's 16-bit-SOF block cap
    def chan(e: String): String =
      s"""round(COALESCE(list_sum(list_transform(range(0, nb),
         |    j -> $e)), 0) * 1000.0 / (255.0 * nb))""".stripMargin
    s"""WITH b AS (SELECT doc_id, $duckUtf8Bytes AS bs FROM documents),
       |s AS (SELECT doc_id, bs, len(bs) AS n,
       |    least(greatest(3, len(bs) - (len(bs) % 3)) // 3, $cap)
       |      AS nb FROM b),
       |p AS (SELECT doc_id, n, nb,
       |    list_transform(range(1, 3 * nb + 1),
       |      i -> CASE WHEN i <= n THEN bs[i] ELSE 0 END) AS pb
       |  FROM s)
       |SELECT doc_id, 'image/jpeg' AS format,
       |  CAST($side AS INT) AS width,
       |  CAST($side * nb AS INT) AS height,
       |  CAST(${side * side} * nb AS BIGINT) AS n_samples,
       |  CAST(${chan(r2)} AS BIGINT) AS c0_milli,
       |  CAST(${chan(g2)} AS BIGINT) AS c1_milli,
       |  CAST(${chan(b2)} AS BIGINT) AS c2_milli
       |FROM p ORDER BY doc_id ASC""".stripMargin
  }

  /** Mirrors `synthesizeJpeg` → `resizeMedia(2, 3)` → `decodeStats`:
    * the gray JPEG decodes exactly, NN picks source row
    * (y2·8m) div 3 → payload byte ((y2·8m) div 3) div 8 for
    * y2 ∈ {0,1,2} (both output pixels of a row are equal), PNG
    * re-encode is lossless. */
  private def multimodalJpegResizeOracle: String = {
    val picks = (0 to 2).map(y2 =>
      s"pb[(($y2 * 8 * m) // 3) // 8 + 1]").mkString(" + ")
    s"""WITH b AS (SELECT doc_id, $duckUtf8Bytes AS bs FROM documents),
       |s AS (SELECT doc_id, bs, len(bs) AS n,
       |    least(greatest(1, len(bs)), 8191) AS m FROM b),
       |p AS (SELECT doc_id, n, m,
       |    list_transform(range(1, m + 1),
       |      i -> CASE WHEN i <= n THEN bs[i] ELSE 0 END) AS pb
       |  FROM s),
       |r AS (SELECT doc_id,
       |    round(($picks) * 2 * 1000.0 / (255.0 * 6)) AS gm
       |  FROM p)
       |SELECT doc_id, 'image/png' AS format,
       |  CAST(2 AS INT) AS width,
       |  CAST(3 AS INT) AS height,
       |  CAST(6 AS BIGINT) AS n_samples,
       |  CAST(gm AS BIGINT) AS c0_milli,
       |  CAST(gm AS BIGINT) AS c1_milli,
       |  CAST(gm AS BIGINT) AS c2_milli
       |FROM r ORDER BY doc_id ASC""".stripMargin
  }

  /** Mirrors synthesizePng → [[graft.operators.Multimodal.resizeMedia]]
    * (2×3 nearest-neighbor) → `decodeStats`: each doc is a 4-wide RGB
    * raster of height hh = m/12; resized pixel k (x2 = k%2, y2 = k/2)
    * samples source pixel (x2·4/2, y2·hh/3) — the same integer-floor
    * NN formula as `MediaCodec.nnResizeRgb`. The engine only lands on
    * these means if PNG decode, the resize kernel, PNG re-encode and
    * the second decode are all byte-exact. */
  private def multimodalResizeOracle: String = {
    def chanMilli(c: Int): String =
      s"""round(list_sum(list_transform(range(0, 6),
         |    k -> pb[3 * (((k // 2) * hh // 3) * 4 + (k % 2) * 2) + ${c + 1}]))
         |  * 1000.0 / (255.0 * 6))""".stripMargin
    s"""WITH b AS (SELECT doc_id, $duckUtf8Bytes AS bs FROM documents),
       |s AS (SELECT doc_id, bs, len(bs) AS n,
       |    greatest(12, len(bs) - (len(bs) % 12)) AS m FROM b),
       |p AS (SELECT doc_id, m // 12 AS hh,
       |    list_transform(range(1, m + 1),
       |      i -> CASE WHEN i <= n THEN bs[i] ELSE 0 END) AS pb
       |  FROM s)
       |SELECT doc_id, 'image/png' AS format,
       |  CAST(2 AS INT) AS width, CAST(3 AS INT) AS height,
       |  CAST(6 AS BIGINT) AS n_samples,
       |  CAST(${chanMilli(0)} AS BIGINT) AS c0_milli,
       |  CAST(${chanMilli(1)} AS BIGINT) AS c1_milli,
       |  CAST(${chanMilli(2)} AS BIGINT) AS c2_milli
       |FROM p ORDER BY doc_id ASC""".stripMargin
  }

  /** Mirrors [[graft.operators.Multimodal.synthesizeVideo]](frameRows=2)
    * → `sampleFrames(everyN=4)`: the payload zero-padded to whole
    * 24-byte frames (4×2 RGB, ≥ 1 frame), every 4th frame's channel
    * means over its 8 pixels. One output row per (doc, sampled frame)
    * — the engine must walk one P6 header per frame to slice the same
    * bytes. */
  private def multimodalFramesOracle: String = {
    def chanMilli(c: Int): String =
      s"""round(list_sum(list_transform(range(0, 8),
         |    k -> pb[f * 24 + 3 * k + ${c + 1}]))
         |  * 1000.0 / (255.0 * 8))""".stripMargin
    s"""WITH b AS (SELECT doc_id, $duckUtf8Bytes AS bs FROM documents),
       |s AS (SELECT doc_id, bs, len(bs) AS n,
       |    greatest(1, (len(bs) + 23) // 24) AS nf FROM b),
       |p AS (SELECT doc_id, nf,
       |    list_transform(range(1, nf * 24 + 1),
       |      i -> CASE WHEN i <= n THEN bs[i] ELSE 0 END) AS pb
       |  FROM s),
       |x AS (SELECT doc_id, pb, unnest(range(0, nf)) AS f FROM p)
       |SELECT doc_id, f AS frame_idx,
       |  CAST(4 AS INT) AS width, CAST(2 AS INT) AS height,
       |  CAST(${chanMilli(0)} AS BIGINT) AS r_milli,
       |  CAST(${chanMilli(1)} AS BIGINT) AS g_milli,
       |  CAST(${chanMilli(2)} AS BIGINT) AS b_milli
       |FROM x WHERE f % 4 = 0
       |ORDER BY doc_id ASC, frame_idx ASC""".stripMargin
  }

  /** Mirrors [[graft.operators.Multimodal.synthesizeGifAnimated]]
    * (frameRows=2) → `sampleFrames(everyN=4)`: the payload
    * zero-padded to whole 8-byte index frames (4×2, ≥ 1 frame),
    * every 4th frame's channel means over its 8 PALETTE-MAPPED
    * pixels — channel c of index b is (b·mult_c) mod 256 for
    * mult = (7, 13, 29). Full-canvas opaque frames with disposal 1
    * make GIF compositing the identity, so the engine's composited
    * frame equals the payload slice. */
  private def multimodalGifFramesOracle: String = {
    def chanMilli(mult: Int): String =
      s"""round(list_sum(list_transform(range(0, 8),
         |    k -> (pb[f * 8 + k + 1] * $mult) % 256))
         |  * 1000.0 / (255.0 * 8))""".stripMargin
    s"""WITH b AS (SELECT doc_id, $duckUtf8Bytes AS bs FROM documents),
       |s AS (SELECT doc_id, bs, len(bs) AS n,
       |    greatest(1, (len(bs) + 7) // 8) AS nf FROM b),
       |p AS (SELECT doc_id, nf,
       |    list_transform(range(1, nf * 8 + 1),
       |      i -> CASE WHEN i <= n THEN bs[i] ELSE 0 END) AS pb
       |  FROM s),
       |x AS (SELECT doc_id, pb, unnest(range(0, nf)) AS f FROM p)
       |SELECT doc_id, f AS frame_idx,
       |  CAST(4 AS INT) AS width, CAST(2 AS INT) AS height,
       |  CAST(${chanMilli(7)} AS BIGINT) AS r_milli,
       |  CAST(${chanMilli(13)} AS BIGINT) AS g_milli,
       |  CAST(${chanMilli(29)} AS BIGINT) AS b_milli
       |FROM x WHERE f % 4 = 0
       |ORDER BY doc_id ASC, frame_idx ASC""".stripMargin
  }
}
