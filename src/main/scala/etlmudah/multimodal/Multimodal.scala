package etlmudah.multimodal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal column handling: media as opaque `binary` columns with a
  * typed metadata struct, plus decode / feature-extract / frame-sample
  * plumbing.
  *
  * The actual codec step is STUBBED (this environment ships no
  * image/audio libraries): `decodeFeaturesStub` produces deterministic
  * pseudo-features from the bytes via xxhash64 so the Spark-side
  * contract — schema, batch shape, partition-parallel execution,
  * downstream joins — is real and testable. Swap `decodeFeaturesStub`
  * for a mapPartitions/Pandas-UDF decoder with the same signature
  * (binary -> array<float>) in production; nothing downstream changes.
  *
  * Scale: all derivations are per-row expressions (no shuffle); media
  * bytes never leave their partition; metadata-only queries prune the
  * binary column at the parquet scan.
  */
object Multimodal {

  /** Attach a synthetic media column to any text table: bytes = utf8 of
    * the text, metadata struct carrying (format, n_bytes). Stands in for
    * real image/audio blobs in the testdata. */
  def withFakeMedia(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("media", col(textCol).cast("binary"))
      .withColumn("media_meta", struct(
        lit("fake/raw").as("format"),
        length(col(textCol).cast("binary")).cast("long").as("n_bytes")))

  /** STUB decode: deterministic `dims`-length float features in [0,1)
    * derived from the bytes via the md5-uniform construction
    * (`md5(bytes ++ utf8(i))` hex prefix / 2^32) — reproducible in any
    * engine that has md5, so the stub pipeline can be validated
    * end-to-end against an external oracle. Real impl: image decode +
    * model forward pass per batch behind the same
    * (binary -> array<float>) shape. */
  def decodeFeaturesStub(media: Column, dims: Int): Column =
    transform(sequence(lit(0), lit(dims - 1)),
      i => (conv(substring(md5(concat(media, i.cast("string").cast("binary"))),
        1, 8), 16, 10).cast("double") / 4294967296.0).cast("float"))

  /** Batched decode path — the Scala analog of a Pandas UDF over
    * mapInPandas: an iterator-in/iterator-out partition transform where
    * a real implementation would accumulate rows into fixed-size
    * batches, run the image/audio codec + model forward pass per batch,
    * and stream results without materializing the partition. The codec
    * is STUBBED (deterministic byte-fold features); the signature,
    * laziness, schema, and partition-parallel execution are the real
    * contract a production decoder drops into. */
  def decodeBatchedStub(df: DataFrame, idCol: String, mediaCol: String,
                        dims: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(mediaCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val feats = Array.tabulate(dims) { d =>
            var h = 1125899906842597L + d
            var i = 0
            while (i < bytes.length) { h = h * 31 + (bytes(i) & 0xFF); i += 1 }
            ((h & 0xFFFFFL).toFloat / 0x100000L.toFloat)
          }
          (id, feats)
        }
      }
      .toDF(idCol, "features")
  }

  /** Byte at 1-based position `pos` of a binary column, as int (0-255).
    * Pure substring/hex arithmetic — codegen'd, no UDF. */
  private def byteAt(media: Column, pos: Column): Column =
    conv(hex(substring(media, pos.cast("int"), lit(1))), 16, 10).cast("int")

  /** Big-endian uint16 / uint32 and little-endian uint16 at 1-based pos. */
  private def be16(media: Column, pos: Column): Column =
    byteAt(media, pos) * 256 + byteAt(media, pos + 1)
  // LONG arithmetic: a hostile/corrupt header with byte >= 0x80 at the
  // first position makes the uint32 exceed Int.MaxValue, and under
  // Spark 4's default ANSI mode an Int overflow THROWS instead of
  // yielding the documented null-on-garbage behavior
  private def be32(media: Column, pos: Column): Column =
    (byteAt(media, pos).cast("long") * 16777216L +
      byteAt(media, pos + 1) * 65536L +
      byteAt(media, pos + 2) * 256L +
      byteAt(media, pos + 3)).cast("long")
  private def le16(media: Column, pos: Column): Column =
    byteAt(media, pos) + byteAt(media, pos + 1) * 256
  private def le24(media: Column, pos: Column): Column =
    byteAt(media, pos) + byteAt(media, pos + 1) * 256 +
      byteAt(media, pos + 2) * 65536
  private def le32(media: Column, pos: Column): Column =
    (byteAt(media, pos) +
      byteAt(media, pos + 1) * 256L +
      byteAt(media, pos + 2) * 65536L +
      byteAt(media, pos + 3) * 16777216L).cast("long")

  /** REAL media metadata decode — pure byte arithmetic over the binary
    * column, no image library: container format + pixel dimensions for
    * the three dominant web formats. This shrinks the stubbed surface
    * to the feature-vector step only; the header parse is the real
    * thing.
    *
    *  - PNG  (spec: 8-byte signature, IHDR first chunk): width/height
    *    are the big-endian uint32s at byte offsets 17/21 (1-based).
    *  - GIF  (GIF87a/GIF89a): logical-screen width/height are
    *    little-endian uint16s at offsets 7/9.
    *  - JPEG (ISO 10918 marker stream): dimensions live in the first
    *    SOFn segment, so the marker stream is WALKED — a bounded
    *    `aggregate` over `maxSegments` steps carries (offset, w, h)
    *    through the segment chain (each non-SOF segment advances by
    *    its 2-byte big-endian length + 2). The walk is a single
    *    codegen'd expression: no UDF, no mapPartitions, scales as a
    *    per-row projection.
    *  - WebP (RIFF container, VP8 spec RFC 6386 / VP8L spec / VP8X
    *    extended header): the spec REQUIRES VP8X first when present
    *    and otherwise a single VP8 /VP8L chunk, so the first chunk id
    *    at offset 13 decides the variant — "VP8 " carries 14-bit LE
    *    dims after the 3-byte frame tag + 3-byte sync code; "VP8L"
    *    packs two 14-bit dims-minus-one into the 4 bytes after the
    *    0x2F signature; "VP8X" carries 24-bit LE canvas dims-minus-one
    *    at payload offsets 4/7.
    *  - BMP ("BM" + DIB header): header-size dispatch — the legacy
    *    BITMAPCOREHEADER (12) carries LE uint16 dims, every later DIB
    *    header carries SIGNED LE int32 dims (negative height =
    *    top-down rows; the magnitude is emitted).
    *  - TIFF (6.0, both byte orders): the first IFD is walked entry by
    *    entry for ImageWidth/ImageLength (tags 256/257, inline SHORT
    *    or LONG values, endian-dispatched reads) — the fourth walking
    *    decoder after JPEG markers, RIFF chunks, and the IFD here.
    *
    * Returns struct(format, width, height); unknown containers yield
    * ("unknown", null, null). Truncated/corrupt headers yield nulls
    * rather than throwing (substring past end returns empty -> conv
    * yields null). */
  def mediaMeta(media: Column, maxSegments: Int = 32): Column = {
    val isPng = hex(substring(media, 1, 8)) === "89504E470D0A1A0A"
    val isGif = hex(substring(media, 1, 3)) === "474946"
    val isJpeg = hex(substring(media, 1, 2)) === "FFD8"
    // JPEG SOFn markers: C0-C3, C5-C7, C9-CB, CD-CF (C4=DHT, C8=JPG,
    // CC=DAC are not frame headers)
    val sofMarkers = Seq(0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
      0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF).map(lit(_))
    val jpegScan = aggregate(
      sequence(lit(1), lit(maxSegments)),
      struct(lit(3).as("off"), lit(null).cast("int").as("w"),
        lit(null).cast("int").as("h")),
      (st, _) => {
        val off = st.getField("off")
        val marker = byteAt(media, off + 1)
        val done = st.getField("w").isNotNull || byteAt(media, off) =!= 0xFF ||
          marker.isNull
        when(done, st)
          .when(marker.isin(sofMarkers: _*),
            struct(off.as("off"),
              be16(media, off + 7).as("w"), be16(media, off + 5).as("h")))
          .otherwise(struct((off + be16(media, off + 2) + 2).as("off"),
            lit(null).cast("int").as("w"), lit(null).cast("int").as("h")))
      })
    val isWebp = hex(substring(media, 1, 4)) === "52494646" && // "RIFF"
      hex(substring(media, 9, 4)) === "57454250"               // "WEBP"
    val webpChunk = hex(substring(media, 13, 4))
    // VP8 lossy: payload at 21 — 3-byte frame tag, 3-byte sync
    // (9D 01 2A), then 14-bit LE width/height (upper 2 bits are scale)
    val vp8W = le16(media, lit(27)).bitwiseAND(lit(0x3FFF))
    val vp8H = le16(media, lit(29)).bitwiseAND(lit(0x3FFF))
    // VP8L lossless: 0x2F signature at 21, then width-1 (14 bits) and
    // height-1 (14 bits) packed little-endian across the next 4 bytes
    val (lb1, lb2, lb3, lb4) = (byteAt(media, lit(22)),
      byteAt(media, lit(23)), byteAt(media, lit(24)), byteAt(media, lit(25)))
    val vp8lW = lb1 + lb2.bitwiseAND(lit(0x3F)) * 256 + 1
    val vp8lH = shiftright(lb2, 6) + lb3 * 4 +
      lb4.bitwiseAND(lit(0x0F)) * 1024 + 1
    // VP8X extended: flags byte + 3 reserved at 21, canvas
    // width-1/height-1 as 24-bit LE at 25/28
    val vp8xW = le24(media, lit(25)) + 1
    val vp8xH = le24(media, lit(28)) + 1
    val webpW = when(webpChunk === "56503820", vp8W)   // "VP8 "
      .when(webpChunk === "5650384C", vp8lW)           // "VP8L"
      .when(webpChunk === "56503858", vp8xW)           // "VP8X"
    val webpH = when(webpChunk === "56503820", vp8H)
      .when(webpChunk === "5650384C", vp8lH)
      .when(webpChunk === "56503858", vp8xH)
    // BMP ("BM" + DIB header): dispatch on the DIB header size at 15 —
    // BITMAPCOREHEADER (12) carries LE uint16 dims at 19/21, every
    // later header (40/52/56/108/124) carries LE INT32 dims at 19/23;
    // height may legitimately be NEGATIVE (top-down row order), so the
    // signed magnitude is the pixel height
    val isBmp = hex(substring(media, 1, 2)) === "424D"
    val dibSize = le32(media, lit(15))
    def sle32(pos: Int): Column = {
      val v = le32(media, lit(pos))
      when(v > 2147483647L, v - 4294967296L).otherwise(v)
    }
    val bmpW = when(dibSize === 12L, le16(media, lit(19)).cast("long"))
      .otherwise(sle32(19))
    val bmpH = when(dibSize === 12L, le16(media, lit(21)).cast("long"))
      .otherwise(abs(sle32(23)))
    // TIFF (II*\0 little-endian / MM\0* big-endian, TIFF 6.0): the
    // first IFD is WALKED — every 12-byte entry is (tag, type, count,
    // value); ImageWidth/ImageLength (tags 256/257) always fit inline,
    // as SHORT (type 3, value in the field's FIRST two bytes, each
    // endianness its own byte order) or LONG (type 4, full 4 bytes).
    // The walk is the JPEG marker-walk shape: a bounded aggregate, one
    // codegen'd expression, no UDF. A hostile IFD offset near
    // uint32-max is rejected BEFORE any byte read (the audioMeta
    // ANSI-overflow lesson: byteAt casts positions to int).
    val isTiffLE = hex(substring(media, 1, 4)) === "49492A00"
    val isTiffBE = hex(substring(media, 1, 4)) === "4D4D002A"
    def t16(pos: Column): Column =
      when(isTiffLE, le16(media, pos)).otherwise(be16(media, pos))
    def t32(pos: Column): Column =
      when(isTiffLE, le32(media, pos)).otherwise(be32(media, pos))
    // clamp the IFD position BEFORE any int cast (the audioMeta ANSI
    // lesson): a hostile uint32-max offset lands far past any real
    // media length, so every read nulls instead of CAST_OVERFLOWing —
    // and the clamp covers the ENTRY positions derived from it too
    val ifdPos = least(t32(lit(5)) + 1, lit(268435457L))
    val nEntries = t16(ifdPos.cast("int"))
    val tiffScan = aggregate(
      sequence(lit(1), lit(maxSegments)),
      struct(lit(null).cast("long").as("w"), lit(null).cast("long").as("h")),
      (st, i) => {
        // captured-state null checks FIRST: i > nEntries re-reads the
        // IFD header bytes (interpreted HOF, no CSE), so post-capture
        // iterations of the fixed sequence must not pay it
        val done = (st.getField("w").isNotNull && st.getField("h").isNotNull) ||
          i > nEntries
        val entry = (ifdPos + 2 + (i - 1) * 12).cast("int")
        val tag = t16(entry)
        val typ = t16(entry + 2)
        val value = when(typ === 3, t16(entry + 8).cast("long"))
          .when(typ === 4, t32(entry + 8))
        when(done, st)
          .when(tag === 256,
            struct(value.as("w"), st.getField("h").as("h")))
          .when(tag === 257,
            struct(st.getField("w").as("w"), value.as("h")))
          .otherwise(st)
      })
    // width/height are LONG across every branch: PNG's uint32 fields
    // don't fit an Int for hostile headers (see be32)
    when(isPng, struct(lit("png").as("format"),
        be32(media, lit(17)).as("width"), be32(media, lit(21)).as("height")))
      .when(isGif, struct(lit("gif").as("format"),
        le16(media, lit(7)).cast("long").as("width"),
        le16(media, lit(9)).cast("long").as("height")))
      .when(isJpeg, struct(lit("jpeg").as("format"),
        jpegScan.getField("w").cast("long").as("width"),
        jpegScan.getField("h").cast("long").as("height")))
      .when(isWebp, struct(lit("webp").as("format"),
        webpW.cast("long").as("width"), webpH.cast("long").as("height")))
      .when(isBmp, struct(lit("bmp").as("format"),
        bmpW.as("width"), bmpH.as("height")))
      .when(isTiffLE || isTiffBE, struct(lit("tiff").as("format"),
        tiffScan.getField("w").as("width"),
        tiffScan.getField("h").as("height")))
      .otherwise(struct(lit("unknown").as("format"),
        lit(null).cast("long").as("width"), lit(null).cast("long").as("height")))
  }

  /** REAL audio metadata decode for WAV (RIFF) containers — the audio
    * sibling of [[mediaMeta]], same no-library contract: the RIFF chunk
    * list is WALKED (a bounded `aggregate` over `maxChunks` steps, the
    * JPEG marker-walk shape) because the spec guarantees neither that
    * `fmt ` is the first chunk nor that `data` follows it directly —
    * real encoders emit LIST/INFO/fact chunks in between. Each step
    * reads the 4-byte chunk id and little-endian uint32 size, captures
    * (channels, sample rate, bits/sample) from `fmt ` and the payload
    * byte count from `data`, and advances by 8 + size + pad (chunk
    * payloads are word-aligned: odd sizes carry one pad byte). The walk
    * stops once both chunks are seen or a truncated header nulls the
    * size.
    *
    * Returns struct(format, channels, sample_rate_hz, bits_per_sample,
    * data_bytes); non-RIFF input yields ("unknown", nulls). Duration is
    * a derivation — data_bytes * 8000 div (rate * channels * bits) —
    * left to the caller so the decoder stays exact-integer end to end. */
  def audioMeta(media: Column, maxChunks: Int = 32): Column = {
    val isWav = hex(substring(media, 1, 4)) === "52494646" && // "RIFF"
      hex(substring(media, 9, 4)) === "57415645"              // "WAVE"
    val nullI = lit(null).cast("int")
    val nullL = lit(null).cast("long")
    val walk = aggregate(
      sequence(lit(1), lit(maxChunks)),
      struct(lit(13L).as("off"), nullI.as("ch"), nullL.as("rate"),
        nullI.as("bits"), nullL.as("db")),
      (st, _) => {
        val off = st.getField("off")
        val chunkId = hex(substring(media, off.cast("int"), lit(4)))
        val size = le32(media, off + 4)
        val next = off + 8L + size + pmod(size, lit(2L))
        // Out-of-range FIRST: a hostile declared size near uint32-max puts
        // `off` beyond the blob (or beyond Int range), and every byte read
        // below casts the offset to int — under ANSI mode that would THROW
        // CAST_OVERFLOW instead of honoring the null-on-garbage contract.
        // Or short-circuits left-to-right in codegen, so no read happens
        // once the first disjunct fires.
        val done = off > length(media).cast("long") ||
          off > lit(Int.MaxValue.toLong - 32L) ||
          (st.getField("ch").isNotNull &&
            st.getField("db").isNotNull) || size.isNull || chunkId === ""
        when(done, st)
          .when(chunkId === lit("666D7420"), // "fmt "
            struct(next.as("off"),
              le16(media, off + 10).as("ch"),
              le32(media, off + 12).as("rate"),
              le16(media, off + 22).as("bits"),
              st.getField("db").as("db")))
          .when(chunkId === lit("64617461"), // "data"
            struct(next.as("off"), st.getField("ch").as("ch"),
              st.getField("rate").as("rate"), st.getField("bits").as("bits"),
              size.as("db")))
          .otherwise(struct(next.as("off"), st.getField("ch").as("ch"),
            st.getField("rate").as("rate"), st.getField("bits").as("bits"),
            st.getField("db").as("db")))
      })
    when(isWav, struct(lit("wav").as("format"),
        walk.getField("ch").as("channels"),
        walk.getField("rate").as("sample_rate_hz"),
        walk.getField("bits").as("bits_per_sample"),
        walk.getField("db").as("data_bytes")))
      .otherwise(struct(lit("unknown").as("format"), nullI.as("channels"),
        nullL.as("sample_rate_hz"), nullI.as("bits_per_sample"),
        nullL.as("data_bytes")))
  }

  /** Synthesize a VALID WAV header for the given PCM parameters — the
    * encode half of the [[audioMeta]] round trip. A 9-byte (ODD-sized,
    * so the walk's pad-byte handling is exercised) LIST chunk sits
    * between "WAVE" and `fmt `, and `data` declares `dataBytes` of
    * payload without materializing them — the decoder reads headers
    * only. Byte assembly is unhex over hex strings, as
    * [[fakeMediaHeader]]. */
  def fakeWavHeader(channels: Column, sampleRate: Column, bits: Column,
                    dataBytes: Column): Column = {
    def leHex16(v: Column): Column = {
      val h = lpad(hex(v), 4, "0")
      concat(substring(h, 3, 2), substring(h, 1, 2))
    }
    def leHex32(v: Column): Column = {
      val h = lpad(hex(v), 8, "0")
      concat(substring(h, 7, 2), substring(h, 5, 2),
        substring(h, 3, 2), substring(h, 1, 2))
    }
    val byteRate = (sampleRate * channels * bits / lit(8)).cast("long")
    val blockAlign = (channels * bits / lit(8)).cast("int")
    // riff size = 4 (WAVE) + (8+9+1 LIST padded) + (8+16 fmt) + 8 + data
    val riffSize = lit(4L + 18L + 24L + 8L) + dataBytes
    unhex(concat(
      lit("52494646"), leHex32(riffSize),          // "RIFF" + size
      lit("57415645"),                             // "WAVE"
      lit("4C495354"), leHex32(lit(9)), lit("00" * 10), // odd LIST + pad
      lit("666D7420"), leHex32(lit(16)),           // "fmt " PCM chunk
      lit("0100"), leHex16(channels),
      leHex32(sampleRate), leHex32(byteRate),
      leHex16(blockAlign), leHex16(bits),
      lit("64617461"), leHex32(dataBytes)))        // "data" header only
  }

  /** REAL pixel statistics for uncompressed 24bpp BMPs — per-channel
    * min/max/sum/mean over the padded-stride row walk. Thin wrapper
    * over the native `graft_bmp_stats` Catalyst expression
    * ([[etlmudah.expr.BmpPixelStats]]): the equivalent builtin
    * higher-order-function tree is pathological to OPTIMIZE (measured
    * 72 s of Catalyst time for a two-field projection), while the
    * native expression is one static call inside whole-stage codegen.
    * See the expression's scaladoc for the exact accept/null
    * contract; `maxPixels` bounds the walk the way `maxSegments`
    * bounds the JPEG marker walk (thumbnail/patch tier — the
    * [[videoMetaScan]] split applies beyond it). */
  def bmpPixelStats(media: Column, maxPixels: Int = 4096): Column =
    call_function("graft_bmp_stats", media, lit(maxPixels))

  /** 64-bit perceptual average hash (aHash) of a 24bpp BMP — the
    * image-dedup key (native `graft_bmp_ahash`; see
    * [[etlmudah.expr.BmpPixelStatsFn.ahash]]): struct(h0, h1) packed
    * as two 32-bit words, null when the blob is not exactly
    * decodable. Group on equality for duplicate images; Hamming via
    * `bit_count(h0 ^ h0') + bit_count(h1 ^ h1')` for near-dups (the
    * binary-quantization signature convention). */
  def bmpAHash(media: Column, maxPixels: Int = 4096): Column =
    call_function("graft_bmp_ahash", media, lit(maxPixels))

  /** Synthesize a COMPLETE uncompressed 24bpp BMP (native
    * `graft_fake_bmp24`; see [[etlmudah.expr.BmpPixelStatsFn.synth]]
    * for the closed-form pixel rule the q224 oracle replays). */
  def fakeBmp24(seed: Column, width: Column, height: Column): Column =
    call_function("graft_fake_bmp24", seed.cast("long"),
      width.cast("long"), height.cast("long"))

  /** AVI container metadata for the uncompressed 'vids'/DIB family
    * (native `graft_avi_meta`; see [[etlmudah.expr.AviFn]] for the
    * exact accept/null contract): struct(width, height, n_frames,
    * us_per_frame). */
  def aviMeta(media: Column, maxPixels: Int = 4096): Column =
    call_function("graft_avi_meta", media, lit(maxPixels))

  /** REAL per-frame pixel statistics of an uncompressed AVI — the
    * FRAME-SAMPLE leg of the multimodal tier (native
    * `graft_avi_frame_stats`): frame bodies are BMP pixel arrays, so
    * the schema and channel order match [[bmpPixelStats]]. */
  def aviFrameStats(media: Column, frameIdx: Column,
                    maxPixels: Int = 4096): Column =
    call_function("graft_avi_frame_stats", media,
      frameIdx.cast("long"), lit(maxPixels))

  /** Per-frame perceptual hash — same grid/packing/orientation
    * convention as [[bmpAHash]]/[[pngAHash]], so a picture hashes
    * identically as a BMP, a PNG, or an AVI frame (native
    * `graft_avi_frame_ahash`). */
  def aviFrameAHash(media: Column, frameIdx: Column,
                    maxPixels: Int = 4096): Column =
    call_function("graft_avi_frame_ahash", media,
      frameIdx.cast("long"), lit(maxPixels))

  /** Synthesize a COMPLETE uncompressed AVI whose frame k carries the
    * pixels of `fakeBmp24(seed + k, w, h)` (native `graft_fake_avi`;
    * see [[etlmudah.expr.AviFn.synth]]). */
  def fakeAvi(seed: Column, width: Column, height: Column,
              nFrames: Column): Column =
    call_function("graft_fake_avi", seed.cast("long"),
      width.cast("long"), height.cast("long"), nFrames.cast("long"))

  /** Synthesize a COMPLETE MJPEG AVI whose frame k is the baseline
    * JFIF `fakeJpeg(seed + k, w, h)` (native `graft_fake_mjpeg_avi`;
    * see [[etlmudah.expr.AviFn.synthMjpeg]]) — the same aviMeta /
    * aviFrameStats / aviFrameAHash surface decodes it through the
    * real JPEG entropy path. */
  def fakeMjpegAvi(seed: Column, width: Column, height: Column,
                   nFrames: Column): Column =
    call_function("graft_fake_mjpeg_avi", seed.cast("long"),
      width.cast("long"), height.cast("long"), nFrames.cast("long"))

  /** REAL PNG pixel statistics — all five 8-bit sample layouts
    * (gray / truecolor / palette / gray+alpha / RGBA), sequential or
    * Adam7-interlaced, via JDK Inflater + RFC 2083 filter reversal
    * (native `graft_png_stats`; see [[etlmudah.expr.PngFn]] for the
    * exact accept/null contract). Extends the real-pixel tier to the
    * dominant COMPRESSED web format. */
  def pngPixelStats(media: Column, maxPixels: Int = 4096): Column =
    call_function("graft_png_stats", media, lit(maxPixels))

  /** Perceptual average hash of a decodable PNG — same grid, packing,
    * and VISUAL-orientation convention as [[bmpAHash]], so one picture
    * hashes identically across formats and cross-format dedup groups
    * compose (native `graft_png_ahash`). */
  def pngAHash(media: Column, maxPixels: Int = 4096): Column =
    call_function("graft_png_ahash", media, lit(maxPixels))

  /** Transcode a decodable PNG to a canonical bottom-up 24bpp BMP —
    * composes the whole BMP kernel family (resize/stats/ahash) onto
    * PNG inputs (native `graft_png_to_bmp24`). */
  def pngToBmp24(media: Column, maxPixels: Int = 4096): Column =
    call_function("graft_png_to_bmp24", media, lit(maxPixels))

  /** Synthesize a COMPLETE 8-bit truecolor PNG (native
    * `graft_fake_png24`; see [[etlmudah.expr.PngFn.synth]] — same
    * VISUAL image as [[fakeBmp24]] for the same seed, scanline
    * filters cycle through all five RFC 2083 types). */
  def fakePng24(seed: Column, width: Column, height: Column): Column =
    call_function("graft_fake_png24", seed.cast("long"),
      width.cast("long"), height.cast("long"))

  /** REAL baseline-JPEG pixel statistics — full entropy decode
    * (Huffman + dequant + IDCT + JFIF color transform) via the native
    * `graft_jpeg_stats`; see [[etlmudah.expr.JpegFn]] for the exact
    * accept/null contract (baseline SOF0, 8-bit, 4:4:4 or grayscale
    * only — progressive/subsampled inputs null whole). Closes the
    * image half of the lossy-codec substitution. */
  def jpegPixelStats(media: Column, maxPixels: Int = 4096): Column =
    call_function("graft_jpeg_stats", media, lit(maxPixels))

  /** Perceptual average hash of a decodable baseline JPEG — same
    * grid, packing, and VISUAL-orientation convention as
    * [[bmpAHash]]/[[pngAHash]]/[[aviFrameAHash]], so one picture
    * hashes identically across all four containers (native
    * `graft_jpeg_ahash`). */
  def jpegAHash(media: Column, maxPixels: Int = 4096): Column =
    call_function("graft_jpeg_ahash", media, lit(maxPixels))

  /** Transcode a decodable baseline JPEG to a canonical bottom-up
    * 24bpp BMP — composes the whole BMP kernel family
    * (resize/stats/ahash) onto JPEG inputs (native
    * `graft_jpeg_to_bmp24`). */
  def jpegToBmp24(media: Column, maxPixels: Int = 4096): Column =
    call_function("graft_jpeg_to_bmp24", media, lit(maxPixels))

  /** Synthesize a COMPLETE baseline JFIF with DC-only 4:4:4 blocks
    * and neutral chroma (native `graft_fake_jpeg`; see
    * [[etlmudah.expr.JpegFn.synth]] for the block-constant closed
    * form oracles replay). */
  def fakeJpeg(seed: Column, width: Column, height: Column): Column =
    call_function("graft_fake_jpeg", seed.cast("long"),
      width.cast("long"), height.cast("long"))

  /** Synthesize the SAME closed-form image as [[fakeJpeg]] through a
    * 4:2:0-subsampled, restart-interval-bearing baseline stream — the
    * dominant real-world JPEG shape (native `graft_fake_jpeg420`; see
    * [[etlmudah.expr.JpegFn.synth420]]). `ri` = restart interval in
    * MCUs, 0 disables. */
  def fakeJpeg420(seed: Column, width: Column, height: Column,
                  ri: Column): Column =
    call_function("graft_fake_jpeg420", seed.cast("long"),
      width.cast("long"), height.cast("long"), ri.cast("long"))

  /** Synthesize a 24bpp BMP carrying the SAME block-constant image as
    * [[fakeJpeg]] (native `graft_fake_bmp_blocks`) — the lossless
    * cross-format twin for JPEG parity tiers. */
  def fakeBmpBlocks(seed: Column, width: Column, height: Column): Column =
    call_function("graft_fake_bmp_blocks", seed.cast("long"),
      width.cast("long"), height.cast("long"))

  /** REAL 16-bit-PCM WAV SAMPLE statistics — the audio twin of
    * [[bmpPixelStats]] (native `graft_wav_stats`; see
    * [[etlmudah.expr.WavSampleStatsFn]]): clipping peak, min/max,
    * exact sample/square sums, DC-offset mean and RMS energy over the
    * data chunk, pooled across channels. Null on anything not exactly
    * decodable (non-PCM, bits != 16, truncated/odd data, sample count
    * past `maxSamples` — the thumbnail/patch-tier bound). */
  def wavSampleStats(media: Column, maxSamples: Int = 65536): Column =
    call_function("graft_wav_stats", media, lit(maxSamples))

  /** REAL GIF pixel statistics — LZW dictionary decode (variable-
    * width codes, clear/EOI, sub-block ladder) via the native
    * `graft_gif_stats`; see [[etlmudah.expr.GifFn]]. The THIRD
    * compression family on the image tier beside PNG's zlib and
    * JPEG's Huffman-DCT. */
  def gifPixelStats(media: Column, maxPixels: Int = 4096): Column =
    call_function("graft_gif_stats", media, lit(maxPixels))

  /** Perceptual average hash of a decodable GIF — the shared visual
    * convention, so one picture hashes identically through all four
    * image containers (native `graft_gif_ahash`). */
  def gifAHash(media: Column, maxPixels: Int = 4096): Column =
    call_function("graft_gif_ahash", media, lit(maxPixels))

  /** Transcode a decodable GIF to a canonical bottom-up 24bpp BMP
    * (native `graft_gif_to_bmp24`). */
  def gifToBmp24(media: Column, maxPixels: Int = 4096): Column =
    call_function("graft_gif_to_bmp24", media, lit(maxPixels))

  /** Synthesize a COMPLETE GIF89a carrying the block-constant closed
    * form through REAL LZW compression (native `graft_fake_gif`; see
    * [[etlmudah.expr.GifFn.synth]]). */
  def fakeGif(seed: Column, width: Column, height: Column): Column =
    call_function("graft_fake_gif", seed.cast("long"),
      width.cast("long"), height.cast("long"))

  /** Synthesize the SAME visual image as [[fakeGif]] with rows stored
    * in the four-pass GIF89a interlace schedule (native
    * `graft_fake_gif_interlaced`; see [[etlmudah.expr.GifFn
    * .synthInterlaced]]) — a pure row permutation the decoder must
    * undo exactly. */
  def fakeGifInterlaced(seed: Column, width: Column,
                        height: Column): Column =
    call_function("graft_fake_gif_interlaced", seed.cast("long"),
      width.cast("long"), height.cast("long"))

  /** Synthesize the SAME visual image as [[fakePng24]] as an ADAM7-
    * interlaced stream (native `graft_fake_png_interlaced`; see
    * [[etlmudah.expr.PngFn.synthInterlaced]]) — seven independently-
    * filtered pass sub-images the decoder must re-scatter exactly. */
  def fakePngInterlaced(seed: Column, width: Column,
                        height: Column): Column =
    call_function("graft_fake_png_interlaced", seed.cast("long"),
      width.cast("long"), height.cast("long"))

  /** Synthesize ONE gray visual image (L = (seed*11 + fr*5 + c*2) %
    * 256) through any of PNG's five 8-bit sample layouts — colorType
    * 0 gray / 2 truecolor / 3 identity-gray palette / 4 gray+alpha /
    * 6 RGBA (native `graft_fake_png_typed`; see
    * [[etlmudah.expr.PngFn.synthTyped]]): five byte streams, one
    * decoded image. */
  def fakePngTyped(seed: Column, width: Column, height: Column,
                   colorType: Column): Column =
    call_function("graft_fake_png_typed", seed.cast("long"),
      width.cast("long"), height.cast("long"), colorType.cast("long"))

  /** 16-bit-depth sibling of [[fakePngTyped]] (colorType 0/2/4/6 —
    * the spec forbids 16-bit palettes): the SAME gray visual image,
    * every sample widened to big-endian 16 bits with an independently
    * varying low byte, so the strip-16 readout reproduces the 8-bit
    * legs exactly (native `graft_fake_png16`; see
    * [[etlmudah.expr.PngFn.synth16]]). */
  def fakePng16(seed: Column, width: Column, height: Column,
                colorType: Column): Column =
    call_function("graft_fake_png16", seed.cast("long"),
      width.cast("long"), height.cast("long"), colorType.cast("long"))

  /** APNG container metadata — struct(width, height, n_frames) or
    * null (native `graft_apng_meta`; see
    * [[etlmudah.expr.PngFn.parseApng]] for the accept contract). */
  def apngMeta(media: Column, maxPixels: Int = 4096): Column =
    call_function("graft_apng_meta", media, lit(maxPixels))

  /** Frame k's pixel statistics from an APNG — the fourth
    * frame-sampling container beside DIB-AVI, MJPEG-AVI and animated
    * GIF; ONLY the sampled frame pays the inflate (native
    * `graft_apng_frame_stats`). */
  def apngFrameStats(media: Column, frameIdx: Column,
                     maxPixels: Int = 4096): Column =
    call_function("graft_apng_frame_stats", media,
      frameIdx.cast("long"), lit(maxPixels))

  /** Synthesize a COMPLETE APNG whose frame k carries the SAME
    * closed form as [[fakeAnimGif]]/[[fakeMjpegAvi]] frame k (native
    * `graft_fake_apng`; see [[etlmudah.expr.PngFn.synthApng]]) — one
    * pixel rule across all four frame-sampling containers. */
  def fakeApng(seed: Column, width: Column, height: Column,
               nFrames: Column): Column =
    call_function("graft_fake_apng", seed.cast("long"),
      width.cast("long"), height.cast("long"), nFrames.cast("long"))

  /** REAL TIFF pixel statistics — baseline TIFF 6.0 RGB, BOTH byte
    * orders, uncompressed strips (native `graft_tiff_stats`; see
    * [[etlmudah.expr.TiffFn]] for the accept/null contract). */
  def tiffPixelStats(media: Column, maxPixels: Int = 4096): Column =
    call_function("graft_tiff_stats", media, lit(maxPixels))

  /** Perceptual average hash of a decodable TIFF — identical
    * grid/packing/orientation to [[bmpAHash]]/[[pngAHash]], so one
    * picture hashes the same across every format tier (native
    * `graft_tiff_ahash`). */
  def tiffAHash(media: Column, maxPixels: Int = 4096): Column =
    call_function("graft_tiff_ahash", media, lit(maxPixels))

  /** Transcode a decodable TIFF to the canonical bottom-up 24bpp BMP
    * (native `graft_tiff_to_bmp24`). */
  def tiffToBmp24(media: Column, maxPixels: Int = 4096): Column =
    call_function("graft_tiff_to_bmp24", media, lit(maxPixels))

  /** Synthesize a COMPLETE baseline TIFF in either byte order
    * carrying the [[fakeBmpBlocks]] visual image (native
    * `graft_fake_tiff`; see [[etlmudah.expr.TiffFn.synth]]). */
  def fakeTiff(seed: Column, width: Column, height: Column,
               bigEndian: Column): Column =
    call_function("graft_fake_tiff", seed.cast("long"),
      width.cast("long"), height.cast("long"), bigEndian.cast("long"))

  /** Synthesize the SAME closed-form image as [[fakeJpeg420]] through
    * a PROGRESSIVE (SOF2) seven-scan successive-approximation script
    * — interleaved DC first + three raw-bit refinements + per-
    * component EOB-run AC scans (native `graft_fake_jpeg_prog420`;
    * see [[etlmudah.expr.JpegFn.synthProgressive420]]). */
  def fakeJpegProg420(seed: Column, width: Column, height: Column,
                      ri: Column): Column =
    call_function("graft_fake_jpeg_prog420", seed.cast("long"),
      width.cast("long"), height.cast("long"), ri.cast("long"))

  /** Animated-GIF container metadata: struct(width, height,
    * n_frames) or null (native `graft_gif_anim_meta`; see
    * [[etlmudah.expr.GifFn.animMeta]]) — the [[aviMeta]] sibling for
    * the third frame-sampling container. */
  def gifAnimMeta(media: Column, maxPixels: Int = 4096): Column =
    call_function("graft_gif_anim_meta", media, lit(maxPixels))

  /** Pixel statistics of animated-GIF frame k — shallow container
    * walk, only the SAMPLED frame pays the LZW decode (native
    * `graft_gif_frame_stats`; see [[etlmudah.expr.GifFn
    * .frameStats]]). */
  def gifFrameStats(media: Column, frameIdx: Column,
                    maxPixels: Int = 4096): Column =
    call_function("graft_gif_frame_stats", media,
      frameIdx.cast("long"), lit(maxPixels))

  /** Synthesize a COMPLETE animated GIF89a — graphic-control blocks +
    * per-frame LZW images, frame k carrying the closed form at
    * seed+k, the [[fakeMjpegAvi]] convention (native
    * `graft_fake_anim_gif`; see [[etlmudah.expr.GifFn
    * .synthAnim]]). */
  def fakeAnimGif(seed: Column, width: Column, height: Column,
                  nFrames: Column): Column =
    call_function("graft_fake_anim_gif", seed.cast("long"),
      width.cast("long"), height.cast("long"), nFrames.cast("long"))

  /** REAL FLAC sample statistics — lossless entropy decode (Rice
    * residuals + fixed predictors, CRC-verified) via the native
    * `graft_flac_stats`; see [[etlmudah.expr.FlacFn]]. Output schema
    * IDENTICAL to [[wavSampleStats]] — compressed audio lands on the
    * raw tier's closed forms. */
  def flacSampleStats(media: Column, maxSamples: Int = 65536): Column =
    call_function("graft_flac_stats", media, lit(maxSamples))

  /** VAD features over a decodable FLAC (native
    * `graft_flac_features`) — [[wavFeatures]]'s semantics verbatim on
    * the compressed family. */
  def flacFeatures(media: Column, thresh: Int,
                   maxSamples: Int = 65536): Column =
    call_function("graft_flac_features", media, lit(thresh),
      lit(maxSamples))

  /** Transcode a decodable FLAC to a canonical 16-bit PCM WAV
    * (native `graft_flac_to_wav16`) — composes the whole WAV kernel
    * family onto FLAC inputs. */
  def flacToWav16(media: Column, maxSamples: Int = 65536): Column =
    call_function("graft_flac_to_wav16", media, lit(maxSamples))

  /** Synthesize a COMPLETE FLAC stream carrying [[fakeWav16]]'s exact
    * sample closed form, Rice-compressed for real (native
    * `graft_fake_flac`; see [[etlmudah.expr.FlacFn.synth]]). */
  def fakeFlac(seed: Column, channels: Column, rate: Column,
               frames: Column): Column =
    call_function("graft_fake_flac", seed.cast("long"),
      channels.cast("long"), rate.cast("long"), frames.cast("long"))

  /** Synthesize a COMPLETE 16-bit PCM WAV (native `graft_fake_wav16`;
    * see [[etlmudah.expr.WavSampleStatsFn.synth]] for the closed-form
    * sample rule the q230 oracle replays). */
  def fakeWav16(seed: Column, channels: Column, rate: Column,
                frames: Column): Column =
    call_function("graft_fake_wav16", seed.cast("long"),
      channels.cast("long"), rate.cast("long"), frames.cast("long"))

  /** Synthesize a VALID media header (PNG / GIF / JPEG) for the given
    * dimensions — the encode half of the [[mediaMeta]] round trip, and
    * the fixture generator for tables without real blobs. All byte
    * assembly is unhex over hex strings (chr() would UTF-8-mangle
    * bytes >= 0x80). The JPEG variant carries a filler APP0 segment
    * before SOF0 so the decoder's marker WALK is exercised, not just
    * the fixed-offset reads. */
  def fakeMediaHeader(format: Column, width: Column, height: Column): Column = {
    def beHex16(v: Column): Column = lpad(hex(v), 4, "0")
    def beHex32(v: Column): Column = lpad(hex(v), 8, "0")
    def leHex16(v: Column): Column = concat(
      substring(lpad(hex(v), 4, "0"), 3, 2),
      substring(lpad(hex(v), 4, "0"), 1, 2))
    val png = concat(lit("89504E470D0A1A0A"), lit("0000000D49484452"),
      beHex32(width), beHex32(height), lit("0806000000"))
    val gif = concat(lit("474946383961"), leHex16(width), leHex16(height),
      lit("F70000"))
    val jpeg = concat(lit("FFD8"),
      lit("FFE00010"), lit("00" * 14),             // APP0, 16-byte segment
      lit("FFC0001108"), beHex16(height), beHex16(width),
      lit("03" + "00" * 10))                        // SOF0 tail
    def leHex32(v: Column): Column = concat(
      leHex16(v.bitwiseAND(lit(0xFFFF))), leHex16(shiftright(v, 16)))
    // BMP, modern BITMAPINFOHEADER (size 40, signed LE32 dims)
    val bmp = concat(lit("424D"), leHex32(lit(54)), lit("00000000"),
      leHex32(lit(54)), leHex32(lit(40)), leHex32(width), leHex32(height),
      lit("0100"), lit("1800"))
    // BMP, legacy BITMAPCOREHEADER (size 12, LE uint16 dims)
    val bmpcore = concat(lit("424D"), leHex32(lit(26)), lit("00000000"),
      leHex32(lit(26)), leHex32(lit(12)), leHex16(width), leHex16(height),
      lit("0100"), lit("1800"))
    // TIFF little-endian: IFD at 8 with a leading no-op entry (tag 259
    // Compression) so the decoder's walk SKIPS before it captures, then
    // width/height as SHORT entries, then the zero next-IFD pointer
    def iiEntry(tag: Int, value: Column): Column = concat(
      leHex16(lit(tag)), lit("0300"), leHex32(lit(1)), leHex16(value),
      lit("0000"))
    val tiffii = concat(lit("49492A00"), leHex32(lit(8)), leHex16(lit(3)),
      iiEntry(259, lit(1)), iiEntry(256, width), iiEntry(257, height),
      leHex32(lit(0)))
    // TIFF big-endian: width as SHORT (value in the field's first two
    // bytes), height as LONG — both inline types exercised
    val tiffmm = concat(lit("4D4D002A"), beHex32(lit(8)), beHex16(lit(3)),
      beHex16(lit(259)), lit("0003"), beHex32(lit(1)), beHex16(lit(1)),
      lit("0000"),
      beHex16(lit(256)), lit("0003"), beHex32(lit(1)), beHex16(width),
      lit("0000"),
      beHex16(lit(257)), lit("0004"), beHex32(lit(1)), beHex32(height),
      beHex32(lit(0)))
    unhex(when(format === "png", png)
      .when(format === "gif", gif)
      .when(format === "jpeg", jpeg)
      .when(format === "bmp", bmp)
      .when(format === "bmpcore", bmpcore)
      .when(format === "tiffii", tiffii)
      .when(format === "tiffmm", tiffmm)
      .otherwise(lit("00")))
  }

  /** Synthesize a VALID WebP header for the given dimensions and
    * variant ("vp8" lossy / "vp8l" lossless / "vp8x" extended) — the
    * encode half of [[mediaMeta]]'s WebP branch and the fixture
    * generator for its three sub-formats. Dimensions must fit 14 bits
    * (VP8/VP8L's field width). Byte assembly is unhex over hex
    * strings, as [[fakeMediaHeader]]; the VP8L payload is odd-sized
    * (5 bytes), so the RIFF pad byte is included for spec validity. */
  def fakeWebpHeader(variant: Column, width: Column, height: Column): Column = {
    def hx2(v: Column): Column = lpad(hex(v), 2, "0")
    def leHex16(v: Column): Column = concat(
      hx2(v.bitwiseAND(lit(0xFF))), hx2(shiftright(v, 8)))
    def leHex24(v: Column): Column = concat(
      hx2(v.bitwiseAND(lit(0xFF))),
      hx2(shiftright(v, 8).bitwiseAND(lit(0xFF))),
      hx2(shiftright(v, 16).bitwiseAND(lit(0xFF))))
    def leHex32(v: Column): Column =
      concat(leHex16(v.bitwiseAND(lit(0xFFFF))), leHex16(shiftright(v, 16)))
    val (wm, hm) = (width - 1, height - 1)
    // VP8 : frame tag (3B, zeroed) + sync 9D 01 2A + 14-bit LE dims
    val vp8 = concat(lit("56503820"), leHex32(lit(10)),
      lit("000000" + "9D012A"), leHex16(width), leHex16(height))
    // VP8L: 2F signature + (w-1, h-1) packed 14+14 bits LE over 4 bytes
    val vp8l = concat(lit("5650384C"), leHex32(lit(5)), lit("2F"),
      hx2(wm.bitwiseAND(lit(0xFF))),
      hx2(shiftright(wm, 8).bitwiseAND(lit(0x3F)) + hm.bitwiseAND(lit(3)) * 64),
      hx2(shiftright(hm, 2).bitwiseAND(lit(0xFF))),
      hx2(shiftright(hm, 10).bitwiseAND(lit(0x0F))),
      lit("00")) // RIFF pad byte for the odd payload
    // VP8X: flags + 3 reserved, canvas dims-minus-one as 24-bit LE
    val vp8x = concat(lit("56503858"), leHex32(lit(10)), lit("00000000"),
      leHex24(wm), leHex24(hm))
    val chunk = when(variant === "vp8", vp8)
      .when(variant === "vp8l", vp8l)
      .otherwise(vp8x)
    // riff size = 4 ("WEBP") + 8 + payload (+ pad): 22 / 18 / 22
    val riffSize = when(variant === "vp8l", lit(18)).otherwise(lit(22))
    unhex(concat(lit("52494646"), leHex32(riffSize),
      lit("57454250"), chunk))
  }

  /** REAL video metadata decode for MP4 (ISO base media file format,
    * MPEG-4 Part 12) containers — the video sibling of [[mediaMeta]] /
    * [[audioMeta]], same no-library contract: ONE bounded walk (the
    * JPEG-marker / RIFF-chunk / TIFF-IFD shape) over the box tree
    * ([size: be32]["4cc" type], 64-bit `largesize` boxes handled).
    * Container boxes (`moov`, `trak`) are TRANSPARENT — the walk
    * steps INTO them by their 8-byte header instead of skipping them
    * — so one flat walk reaches `mvhd` and every track's `tkhd`
    * without nested recursion. `mvhd` yields timescale + duration
    * (version 0 and version 1 layouts — v1 carries 64-bit times); the
    * FIRST `tkhd` with a non-zero width is the video track (audio
    * tkhd dims are spec'd zero) and yields width/height (16.16 fixed
    * point; the integer part is emitted).
    *
    * One walk, not a top-level walk feeding a moov-interior walk: a
    * nested `aggregate` would re-evaluate the WHOLE outer walk every
    * inner step via the moov-bounds references — higher-order
    * functions are interpreted, so that composition was measured 50x
    * slower (the q163 inlining lesson, at expression level). The flat
    * walk pays one extra skipped box per non-moov top-level sibling
    * and nothing else.
    *
    * Hostile declared sizes terminate the walk BEFORE any byte read
    * (the audioMeta ANSI lesson): every offset is range-checked
    * against the blob length and Int range as the first disjuncts of
    * `done`, and declared sizes < 8 (cyclic walks) also stop. Returns
    * struct(format, width, height, timescale, duration) — duration
    * stays in timescale units so the decoder is exact-integer end to
    * end; the ms derivation (duration * 1000 div timescale) is the
    * caller's, the [[audioMeta]] convention. Non-MP4 input yields
    * ("unknown", nulls). */
  def videoMeta(media: Column, maxBoxes: Int = 32): Column = {
    val isMp4 = hex(substring(media, 5, 4)) === "66747970" // "ftyp"
    val nullL = lit(null).cast("long")
    val mediaLen = length(media).cast("long")
    val walk = aggregate(
      sequence(lit(1), lit(maxBoxes)),
      struct(lit(1L).as("off"), nullL.as("ts"), nullL.as("dur"),
        nullL.as("w"), nullL.as("h")),
      (st, _) => {
        val off = st.getField("off")
        val size0 = be32(media, off)
        // size == 1: 64-bit largesize in the 8 bytes after the type
        val size = when(size0 === 1L,
          be32(media, off + 8) * 4294967296L + be32(media, off + 12))
          .otherwise(size0)
        val typ = hex(substring(media, (off + 4).cast("int"), lit(4)))
        val ver = byteAt(media, off + 8)
        // disjunct ORDER is a measured cost: CHEAP checks (offset
        // bounds, captured-state nulls) come before anything that
        // reads bytes, so post-capture and past-end iterations of the
        // fixed-length sequence cost two null checks, not a size
        // parse (interpreted HOF, no CSE — every evaluation is real)
        val done = off > mediaLen || off > lit(Int.MaxValue.toLong - 32L) ||
          (st.getField("ts").isNotNull && st.getField("w").isNotNull) ||
          size.isNull || size < 8L
        // tkhd: matrix-relative offsets shift by 12 between v0 and v1
        // (creation/modification/duration widen 4 -> 8 bytes each)
        val tw = when(ver === 0, be16(media, off + 84))
          .otherwise(be16(media, off + 96)).cast("long")
        val th = when(ver === 0, be16(media, off + 88))
          .otherwise(be16(media, off + 100)).cast("long")
        // on the FINAL capture, jump off past the blob so remaining
        // iterations exit via done's first (cheapest) disjunct — the
        // same early-out the WAV walk gets free from its data chunk
        def jumpIfComplete(other: Column): Column =
          when(other.isNotNull, mediaLen + 1L).otherwise(off + size)
        when(done, st)
          .when(typ === "6D6F6F76" || typ === "7472616B", // containers: step IN
            struct((off + 8L).as("off"), st.getField("ts").as("ts"),
              st.getField("dur").as("dur"), st.getField("w").as("w"),
              st.getField("h").as("h")))
          .when(typ === "6D766864", // "mvhd": capture timescale + duration
            struct(jumpIfComplete(st.getField("w")).as("off"),
              when(ver === 0, be32(media, off + 20))
                .otherwise(be32(media, off + 28)).as("ts"),
              when(ver === 0, be32(media, off + 24))
                .otherwise(be32(media, off + 32) * 4294967296L +
                  be32(media, off + 36)).as("dur"),
              st.getField("w").as("w"), st.getField("h").as("h")))
          .when(typ === "746B6864" && st.getField("w").isNull && tw > 0L,
            struct(jumpIfComplete(st.getField("ts")).as("off"),
              st.getField("ts").as("ts"),
              st.getField("dur").as("dur"), tw.as("w"), th.as("h")))
          .otherwise(struct((off + size).as("off"),
            st.getField("ts").as("ts"), st.getField("dur").as("dur"),
            st.getField("w").as("w"), st.getField("h").as("h")))
      })
    when(isMp4, struct(lit("mp4").as("format"),
        walk.getField("w").as("width"), walk.getField("h").as("height"),
        walk.getField("ts").as("timescale"),
        walk.getField("dur").as("duration")))
      .otherwise(struct(lit("unknown").as("format"), nullL.as("width"),
        nullL.as("height"), nullL.as("timescale"), nullL.as("duration")))
  }

  /** SCALE tier of [[videoMeta]] — the same box walk as a
    * `mapPartitions` codec (the `compressionRatio` precedent, and the
    * module's measured case for it: higher-order-function walks are
    * interpreted with per-byte hex/conv string work, ~2 ms/row; this
    * tier is plain byte-array arithmetic, ~µs/row). Semantics are
    * BIT-IDENTICAL to the expression tier including every
    * null-propagation edge (truncated reads, hostile sizes, version
    * dispatch on a missing byte falling to the v1 layout) — pinned by
    * the MultimodalSpec identity test over the fixture grid and
    * hostile cases, and by q203 carrying q186's oracle. The expression
    * tier stays the portable reference (its math re-derives in SQL);
    * this is the path a 100 TB media scan runs. */
  def videoMetaScan(df: DataFrame, mediaCol: String, idCol: String,
                    maxBoxes: Int = 32): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(mediaCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, m) =>
          val len = if (m == null) 0L else m.length.toLong
          def b(o: Long): Option[Long] =
            if (o < 1 || o > len) None else Some(m((o - 1).toInt) & 0xFFL)
          def be16(o: Long): Option[Long] =
            for (a <- b(o); c <- b(o + 1)) yield a * 256 + c
          def be32(o: Long): Option[Long] =
            for (a <- b(o); x <- b(o + 1); y <- b(o + 2); z <- b(o + 3))
              yield a * 16777216L + x * 65536L + y * 256L + z
          // hex of the bytes available in [o, o+4) — SHORTER on
          // truncation, exactly like hex(substring(...)) in the
          // expression tier, so type comparisons fail the same way
          def hex4(o: Long): String = {
            val sb = new StringBuilder
            var i = o
            while (i < o + 4 && i >= 1 && i <= len) {
              sb.append(f"${m((i - 1).toInt) & 0xFF}%02X"); i += 1
            }
            sb.toString
          }
          if (hex4(5) != "66747970")
            (id, "unknown", None: Option[Long], None: Option[Long],
              None: Option[Long], None: Option[Long])
          else {
            var off = 1L
            var ts: Option[Long] = None; var dur: Option[Long] = None
            var w: Option[Long] = None; var h: Option[Long] = None
            var it = 0; var running = true
            while (it < maxBoxes && running) {
              it += 1
              if (off > len || off > Int.MaxValue.toLong - 32L ||
                (ts.isDefined && w.isDefined)) running = false
              else {
                val size: Option[Long] = be32(off) match {
                  case Some(1L) =>
                    for (hi <- be32(off + 8); lo <- be32(off + 12))
                      yield hi * 4294967296L + lo
                  case s => s
                }
                size match {
                  case Some(sz) if sz >= 8L =>
                    val typ = hex4(off + 4)
                    val ver = b(off + 8)
                    val v0 = ver.contains(0L)
                    if (typ == "6D6F6F76" || typ == "7472616B") off += 8L
                    else if (typ == "6D766864") {
                      ts = if (v0) be32(off + 20) else be32(off + 28)
                      dur = if (v0) be32(off + 24)
                        else for (hi <- be32(off + 32); lo <- be32(off + 36))
                          yield hi * 4294967296L + lo
                      off = if (w.isDefined) len + 1L else off + sz
                    } else {
                      val tw = if (v0) be16(off + 84) else be16(off + 96)
                      if (typ == "746B6864" && w.isEmpty && tw.exists(_ > 0L)) {
                        w = tw
                        h = if (v0) be16(off + 88) else be16(off + 100)
                        off = if (ts.isDefined) len + 1L else off + sz
                      } else off += sz
                    }
                  case _ => running = false
                }
              }
            }
            (id, "mp4", w, h, ts, dur)
          }
        }
      }
      .toDF("id", "format", "width", "height", "timescale", "duration")
  }

  /** Synthesize a VALID MP4 header for the given track dimensions and
    * movie duration — the encode half of the [[videoMeta]] round trip.
    * `variant` selects the box version layout: "v0" (32-bit mvhd/tkhd
    * times) or "v1" (64-bit). The layout deliberately exercises every
    * walk feature: a `free` box before `moov` (top-level skip), an
    * AUDIO trak FIRST whose tkhd has zero dims (the video-track
    * selection must skip it), and a stub `mdia` child after the video
    * tkhd (sibling skip inside a trak). Byte assembly is unhex over
    * hex strings, as [[fakeMediaHeader]]. */
  def fakeMp4Header(variant: Column, width: Column, height: Column,
                    timescale: Column, duration: Column): Column = {
    def beHex16(v: Column): Column = lpad(hex(v), 4, "0")
    def beHex32(v: Column): Column = lpad(hex(v), 8, "0")
    val v1 = variant === "v1"
    // tkhd payload: version+flags, times (v0: c4 m4 id4 res4 d4; v1:
    // c8 m8 id4 res4 d8), reserved 8, layer/alt/volume/reserved 8,
    // matrix 36, width 4 (16.16), height 4
    def tkhd(w: Column, h: Column): Column = concat(
      when(v1, beHex32(lit(104))).otherwise(beHex32(lit(92))),
      lit("746B6864"),
      when(v1, lit("01000000" + "00" * 32)).otherwise(lit("00000000" + "00" * 20)),
      lit("00" * 8), lit("00" * 8), lit("00" * 36),
      beHex16(w), lit("0000"), beHex16(h), lit("0000"))
    val trakA = concat(beHex32(when(v1, lit(112)).otherwise(lit(100))),
      lit("7472616B"), tkhd(lit(0), lit(0)))
    // video trak: tkhd + an 8-byte stub mdia child the walk skips
    val trakV = concat(beHex32(when(v1, lit(120)).otherwise(lit(108))),
      lit("7472616B"), tkhd(width, height), beHex32(lit(8)), lit("6D646961"))
    val mvhd = concat(
      when(v1, beHex32(lit(120))).otherwise(beHex32(lit(108))),
      lit("6D766864"),
      when(v1, concat(lit("01000000"), lit("00" * 16),
          beHex32(timescale), lit("00000000"), beHex32(duration)))
        .otherwise(concat(lit("00000000"), lit("00" * 8),
          beHex32(timescale), beHex32(duration))),
      lit("00010000"), lit("01000000"), lit("00" * 8), lit("00" * 36),
      lit("00" * 24), lit("00000002"))
    val moovSize = when(v1, lit(8 + 120 + 112 + 120))
      .otherwise(lit(8 + 108 + 100 + 108))
    unhex(concat(
      beHex32(lit(16)), lit("66747970"), lit("69736F6D"), lit("00000200"),
      beHex32(lit(8)), lit("66726565"),              // "free" box to skip
      beHex32(moovSize), lit("6D6F6F76"), mvhd, trakA, trakV))
  }

  /** REAL audio metadata decode for MP3 (MPEG-1/2/2.5 Layer III
    * elementary streams) — no walk needed: an optional ID3v2 tag is
    * skipped via its SYNCSAFE 28-bit size (4 bytes of 7 bits each,
    * the tag's one quirk), then the first frame header's 4 bytes are
    * pure bit arithmetic: version and layer indices, bitrate from the
    * per-version Layer III table, sample rate from the per-version
    * table, channel count from the mode field (mono = mode 3). Free
    * (0) and bad (15) bitrate indices and the reserved sample-rate
    * index null out rather than guess; non-Layer-III streams report
    * version/layer/rate/channels but null bitrate (the tables differ
    * per layer and this decoder is the MP3 one). Returns
    * struct(format, mpeg_version, layer, bitrate_kbps, sample_rate_hz,
    * channels); input with neither an ID3 tag nor a leading frame
    * sync yields ("unknown", nulls). */
  def mp3Meta(media: Column): Column = {
    val hasId3 = hex(substring(media, 1, 3)) === "494433"
    // syncsafe uint28 at bytes 7-10: 7 data bits per byte
    val tagSize = byteAt(media, lit(7)).bitwiseAND(lit(0x7F)) * 2097152L +
      byteAt(media, lit(8)).bitwiseAND(lit(0x7F)) * 16384L +
      byteAt(media, lit(9)).bitwiseAND(lit(0x7F)) * 128L +
      byteAt(media, lit(10)).bitwiseAND(lit(0x7F))
    val off = when(hasId3, least(tagSize + 11L, lit(Int.MaxValue.toLong - 8L)))
      .otherwise(lit(1L))
    val b1 = byteAt(media, off)
    val b2 = byteAt(media, off + 1)
    val b3 = byteAt(media, off + 2)
    val b4 = byteAt(media, off + 3)
    val sync = b1 === 255 && shiftright(b2, 5) === 7
    val vb = shiftright(b2, 3).bitwiseAND(lit(3))   // 0=2.5 2=2 3=1
    val lb = shiftright(b2, 1).bitwiseAND(lit(3))   // 1=III 2=II 3=I
    val version = when(vb === 3, "1").when(vb === 2, "2")
      .when(vb === 0, "2.5").otherwise(lit(null).cast("string"))
    val layer = when(lb === 0, lit(null).cast("int")).otherwise(lit(4) - lb)
    val brIdx = shiftright(b3, 4)
    val srIdx = shiftright(b3, 2).bitwiseAND(lit(3))
    // Layer III bitrate tables (kbps); index 0 = free, 15 = bad
    def pick(idx: Column, vals: Seq[Int]): Column =
      vals.zipWithIndex.tail.foldLeft(lit(null).cast("int")) {
        case (acc, (v, i)) => when(idx === i, v).otherwise(acc)
      }
    val bitrate = when(lb =!= 1, lit(null).cast("int"))
      .when(vb === 3, pick(brIdx,
        Seq(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)))
      .otherwise(pick(brIdx,
        Seq(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)))
    val rate = when(vb === 3, pick(srIdx + 1, Seq(0, 44100, 48000, 32000)))
      .when(vb === 2, pick(srIdx + 1, Seq(0, 22050, 24000, 16000)))
      .when(vb === 0, pick(srIdx + 1, Seq(0, 11025, 12000, 8000)))
    val channels = when(shiftright(b4, 6) === 3, 1).otherwise(lit(2))
    val ok = sync && vb =!= 1
    when(ok, struct(lit("mp3").as("format"), version.as("mpeg_version"),
        layer.as("layer"), bitrate.as("bitrate_kbps"),
        rate.cast("long").as("sample_rate_hz"), channels.as("channels")))
      .otherwise(struct(lit("unknown").as("format"),
        lit(null).cast("string").as("mpeg_version"),
        lit(null).cast("int").as("layer"),
        lit(null).cast("int").as("bitrate_kbps"),
        lit(null).cast("long").as("sample_rate_hz"),
        lit(null).cast("int").as("channels")))
  }

  /** REAL audio metadata decode for FLAC — the lossless sibling of
    * [[mp3Meta]], and the simplest of the audio decoders: the spec
    * mandates STREAMINFO as the FIRST metadata block after the "fLaC"
    * magic, so there is no walk at all — just fixed-offset reads plus
    * the bit surgery the 8-byte packed region needs (sample rate is
    * 20 bits, channels 3, bits-per-sample 5, total samples 36, none
    * byte-aligned). All exact integer arithmetic; total samples (up
    * to 2^36) stays in LONG. Returns struct(format, channels,
    * sample_rate_hz, bits_per_sample, total_samples); non-FLAC input
    * yields ("unknown", nulls), truncated blocks null the fields. */
  def flacMeta(media: Column): Column = {
    val isFlac = hex(substring(media, 1, 4)) === "664C6143"
    // STREAMINFO payload at 9 (4 magic + 4 block header); the packed
    // region is its bytes 10-17 -> positions 19..26
    def b(i: Int): Column = byteAt(media, lit(19 + i))
    val rate = b(0) * 4096L + b(1) * 16L + shiftright(b(2), 4)
    val channels = shiftright(b(2), 1).bitwiseAND(lit(7)) + 1
    val bps = b(2).bitwiseAND(lit(1)) * 16 + shiftright(b(3), 4) + 1
    val samples = b(3).bitwiseAND(lit(0xF)).cast("long") * 4294967296L +
      b(4) * 16777216L + b(5) * 65536L + b(6) * 256L + b(7)
    when(isFlac, struct(lit("flac").as("format"),
        channels.as("channels"), rate.cast("long").as("sample_rate_hz"),
        bps.as("bits_per_sample"), samples.as("total_samples")))
      .otherwise(struct(lit("unknown").as("format"),
        lit(null).cast("int").as("channels"),
        lit(null).cast("long").as("sample_rate_hz"),
        lit(null).cast("int").as("bits_per_sample"),
        lit(null).cast("long").as("total_samples")))
  }

  /** Synthesize a VALID FLAC head for the given stream parameters —
    * the encode half of the [[flacMeta]] round trip: magic, a
    * STREAMINFO block header (last-block flag set, type 0, length
    * 34), min/max blocksize/framesize filler, then the packed
    * rate/channels/bps/samples region assembled bit-exactly. */
  def fakeFlacHeader(channels: Column, sampleRate: Column, bits: Column,
                     totalSamples: Column): Column = {
    def hx2(v: Column): Column = lpad(hex(v), 2, "0")
    val b0 = shiftright(sampleRate, 12).bitwiseAND(lit(0xFF))
    val b1 = shiftright(sampleRate, 4).bitwiseAND(lit(0xFF))
    val b2 = sampleRate.bitwiseAND(lit(0xF)) * 16 +
      (channels - 1) * 2 + shiftright(bits - 1, 4)
    val b3 = (bits - 1).bitwiseAND(lit(0xF)) * 16 +
      shiftright(totalSamples, 32).bitwiseAND(lit(0xF)).cast("int")
    val tail = lpad(hex(totalSamples.bitwiseAND(lit(4294967295L))), 8, "0")
    unhex(concat(lit("664C6143"), lit("80000022"),
      lit("10001000"), lit("000000" + "000000"),
      hx2(b0), hx2(b1), hx2(b2), hx2(b3), tail,
      lit("00" * 16)))                               // md5 filler
  }

  /** MPEG-1 Layer I BITSTREAM statistics — the losslessly-specified
    * integer surface (frame walk, allocations, scalefactor indices,
    * the 12x32 requantized sample-code grid) via the native
    * `graft_mp3l1_stats`; see [[etlmudah.expr.Mp3L1Fn]]. The PCM
    * synthesis stage is scoped OUT by spec design: ISO/IEC 11172-4
    * defines decoder compliance as an RMS error bound, so conforming
    * decoders legitimately differ at the PCM LSB and no bit-exact
    * closed form exists (the recorded closure of the lossy-audio
    * item — the integer surface below is the maximal exact one). */
  def mp3L1Stats(media: Column, maxFrames: Int = 4096): Column =
    call_function("graft_mp3l1_stats", media, lit(maxFrames.toLong))

  /** Synthesize VALID mono Layer I frames carrying closed-form
    * allocations/scalefactors/sample codes (native `graft_fake_mp3l1`;
    * see [[etlmudah.expr.Mp3L1Fn.synth]]). */
  def fakeMp3L1(seed: Column, nFrames: Column): Column =
    call_function("graft_fake_mp3l1", seed.cast("long"),
      nFrames.cast("long"))

  /** Synthesize a VALID MP3 stream head — the encode half of the
    * [[mp3Meta]] round trip: an ID3v2.3 tag of `id3Pad` zero bytes
    * (its size field syncsafe-encoded, so pads >= 128 exercise the
    * 7-bit carry) followed by one Layer III frame header with the
    * given MPEG version ("1" / "2" / "2.5"), bitrate index (1-14),
    * sample-rate index (0-2), and channel mode. */
  def fakeMp3Header(version: Column, bitrateIdx: Column, rateIdx: Column,
                    mono: Column, id3Pad: Column): Column = {
    def hx2(v: Column): Column = lpad(hex(v), 2, "0")
    val ssz = concat(
      hx2(shiftright(id3Pad, 21).bitwiseAND(lit(0x7F))),
      hx2(shiftright(id3Pad, 14).bitwiseAND(lit(0x7F))),
      hx2(shiftright(id3Pad, 7).bitwiseAND(lit(0x7F))),
      hx2(id3Pad.bitwiseAND(lit(0x7F))))
    val vb = when(version === "1", 3).when(version === "2", 2).otherwise(lit(0))
    val b2 = lit(0xE0) + vb * 8 + lit(2) + lit(1)   // sync tail|ver|III|no-crc
    val b3 = bitrateIdx * 16 + rateIdx * 4
    val b4 = when(mono === 1, lit(0xC0)).otherwise(lit(0x00))
    unhex(concat(
      lit("494433"), lit("0300"), lit("00"), ssz, repeat(lit("00"), id3Pad),
      lit("FF"), hx2(b2), hx2(b3), hx2(b4)))
  }

  /** REAL audio metadata decode for Ogg containers — Vorbis and Opus
    * identification headers, completing the audio set (WAV [[audioMeta]],
    * MP3 [[mp3Meta]], FLAC [[flacMeta]]). No walk needed: the spec
    * (RFC 3533) requires the identification packet to be the FIRST
    * packet of the FIRST page, alone on it, so the only dynamic step
    * is skipping the page header — payload starts at 28 + n_segments
    * (the segment count is byte 27, its table follows). First-packet
    * magic dispatches the codec:
    *
    *  - Vorbis (`\x01vorbis`): channels uint8 at payload+11, sample
    *    rate LE32 at payload+12;
    *  - Opus (`OpusHead`, RFC 7845): channels uint8 at payload+9,
    *    pre-skip LE16 at payload+10, INPUT sample rate LE32 at
    *    payload+12 (informational — Opus always decodes at 48 kHz;
    *    reported as-is, the pre-skip is the field loaders actually
    *    need to trim).
    *
    * n_segments <= 255 bounds the payload offset, so no hostile-size
    * clamp is needed (the audioMeta ANSI lesson does not arise: every
    * position here is <= 283). Returns struct(format, channels,
    * sample_rate_hz, pre_skip_samples); non-Ogg or an unrecognized
    * first packet yields ("unknown"/"ogg", nulls). */
  def oggMeta(media: Column): Column = {
    val isOgg = hex(substring(media, 1, 4)) === "4F676753"   // "OggS"
    val payload = byteAt(media, lit(27)) + 28                 // 1-based
    val isVorbis = hex(media.substr(payload, lit(7))) === "01766F72626973"
    val isOpus = hex(media.substr(payload, lit(8))) === "4F70757348656164"
    val nulls = struct(lit("unknown").as("format"),
      lit(null).cast("int").as("channels"),
      lit(null).cast("long").as("sample_rate_hz"),
      lit(null).cast("int").as("pre_skip_samples"))
    when(isOgg && isVorbis, struct(lit("ogg-vorbis").as("format"),
        byteAt(media, payload + 11).as("channels"),
        le32(media, payload + 12).as("sample_rate_hz"),
        lit(null).cast("int").as("pre_skip_samples")))
      .when(isOgg && isOpus, struct(lit("ogg-opus").as("format"),
        byteAt(media, payload + 9).as("channels"),
        le32(media, payload + 12).as("sample_rate_hz"),
        le16(media, payload + 10).as("pre_skip_samples")))
      .when(isOgg, struct(lit("ogg").as("format"),
        lit(null).cast("int").as("channels"),
        lit(null).cast("long").as("sample_rate_hz"),
        lit(null).cast("int").as("pre_skip_samples")))
      .otherwise(nulls)
  }

  /** Synthesize a VALID first Ogg page for the given codec — the
    * encode half of the [[oggMeta]] round trip: page header (BOS flag,
    * zero granule/serial/seq/CRC — the decoder reads structure, not
    * checksums; a one-entry segment table sized to the packet), then
    * the codec's identification packet assembled byte-exactly
    * (Vorbis: version 0, channels, rate, bitrate filler, blocksizes,
    * framing bit; Opus: version 1, channels, pre-skip, input rate,
    * zero gain, mapping family 0). */
  def fakeOggHeader(codec: Column, channels: Column, sampleRate: Column,
                    preSkip: Column): Column = {
    def hx2(v: Column): Column = lpad(hex(v), 2, "0")
    def leHex16(v: Column): Column =
      concat(hx2(v.bitwiseAND(lit(0xFF))), hx2(shiftright(v, 8).bitwiseAND(lit(0xFF))))
    def leHex32(v: Column): Column = concat(
      hx2(v.bitwiseAND(lit(0xFF))),
      hx2(shiftright(v, 8).bitwiseAND(lit(0xFF))),
      hx2(shiftright(v, 16).bitwiseAND(lit(0xFF))),
      hx2(shiftright(v, 24).bitwiseAND(lit(0xFF))))
    // page header: "OggS" ver=0 type=BOS granule×8 serial×4 seq×4
    // crc×4, then n_segs=1 and the single lacing value
    def page(packetLen: Int, packetHex: Column): Column = concat(
      lit("4F676753" + "00" + "02" + "00" * 8 + "00" * 4 + "00" * 4 + "00" * 4),
      lit("01"), lit(f"$packetLen%02X"), packetHex)
    val vorbisPkt = concat(
      lit("01766F72626973"), lit("00000000"),       // \x01vorbis, version 0
      hx2(channels), leHex32(sampleRate),
      lit("00" * 12), lit("B8"), lit("01"))         // bitrates, blocksizes, framing
    val opusPkt = concat(
      lit("4F70757348656164"), lit("01"),           // OpusHead, version 1
      hx2(channels), leHex16(preSkip), leHex32(sampleRate),
      lit("0000"), lit("00"))                       // gain, mapping family
    unhex(when(codec === "opus", page(19, opusPkt))
      .otherwise(page(30, vorbisPkt)))
  }

  /** Frame sampling for video-like blobs: n equal-spaced byte windows as
    * an array<binary>; empty media yields an empty array, never a crash. */
  def frameSample(media: Column, frames: Int, frameBytes: Int = 16): Column = {
    val len = length(media)
    when(len >= frames,
      transform(sequence(lit(0), lit(frames - 1)),
        i => substring(media, (i * (len / frames) + 1).cast("int"), lit(frameBytes))))
      .otherwise(array().cast("array<binary>"))
  }
}
