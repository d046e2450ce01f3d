package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (SURVEY.md §2 B-10): treat image/audio/video
  * payloads as opaque `binary` columns with a typed metadata struct, and run
  * feature extraction as a columnar batch transform.
  *
  * Decode status: uncompressed 24bpp BMP pixel decode ([[bmpPixelStats]]),
  * 16-bit PCM WAV sample decode ([[wavPcmStats]]), and stored-block RGB8
  * PNG decode ([[pngPixelStats]] — the zlib BTYPE=00 case every encoder
  * emits at compression level 0) are REAL — header-driven byte arithmetic
  * over the binary column (data offsets, row stride, padding/filter-byte
  * skip, two's-complement samples, chunk walking), no media library.
  * Entropy-coded streams are ALSO real, via the JDK-only kernels in
  * `expressions.MediaCodec`: `PngDecodeStats` (java.util.zip Inflater +
  * all five scanline filters — any compression level, gray/RGB/RGBA,
  * multi-IDAT) and `ImageDecodeStats` (javax.imageio — the JPEG path),
  * both oracle-checked end-to-end in `q_multimodal_inflate`. The
  * digest-derived feature vector below remains only as the generic
  * "embed anything" fallback seam for formats with no JDK codec
  * (video codecs etc.), which production routes through an
  * `mapInArrow` batch; everything downstream of the `features` column
  * is unchanged either way.
  *
  * Scale posture: payloads stay opaque bytes end-to-end (no row-level JVM
  * object churn); metadata extraction is codegen'd; feature extraction is
  * one narrow projection — embarrassingly parallel, no shuffle.
  */
object Multimodal {

  /** Read `len` bytes at 1-based `pos` of a binary column as an unsigned
    * little-endian integer: per-byte substring → byte-reversed concat → one
    * hex/conv. Pure codegen'd built-ins — container headers parse without
    * any media library. */
  private def leUInt(bin: Column, pos: Int, len: Int): Column =
    conv(hex(concat((0 until len).reverse.map(i =>
      substring(bin, pos + i, 1)): _*)), 16, 10).cast("long")

  private def magic(bin: Column, pos: Int, len: Int): Column =
    hex(substring(bin, pos, len))

  /** Big-endian sibling of [[leUInt]] — PNG's network byte order. */
  private def beUInt(bin: Column, pos: Int, len: Int): Column =
    conv(hex(substring(bin, pos, len)), 16, 10).cast("long")

  /** Magic-byte MIME sniffing over the payload prefix (BMP/WAV/AVI/PNG/
    * JPEG), with a caller-chosen fallback for unrecognized bytes. Hex-string
    * comparison sidesteps binary-literal encoding pitfalls (0x89 is not
    * valid UTF-8, so a string-literal cast could never express PNG magic). */
  def detectMime(payload: Column, fallback: String): Column =
    when(magic(payload, 1, 2) === "424D", "image/bmp")
      .when(magic(payload, 1, 4) === "52494646" &&
        magic(payload, 9, 4) === "57415645", "audio/wav")
      .when(magic(payload, 1, 4) === "52494646" &&
        magic(payload, 9, 4) === "41564920", "video/avi")
      .when(magic(payload, 1, 4) === "89504E47", "image/png")
      .when(magic(payload, 1, 2) === "FFD8", "image/jpeg")
      .otherwise(fallback)

  /** Big-endian unsigned int at a DYNAMIC 1-based position (Column, not
    * literal), `len` bytes wide — PNG chunk fields and pixel offsets live
    * at data-dependent positions. Everything stays inside codegen'd
    * built-ins. Callers must bound `pos` (see the decoder guards): ANSI
    * mode makes an overflowing int cast THROW, and a corrupt record must
    * decode to null, never kill the query. */
  private def beUIntAt(bin: Column, pos: Column, len: Int): Column =
    conv(hex(bin.substr(pos.cast("int"), lit(len))), 16, 10).cast("long")

  /** Unsigned byte value at a dynamic 1-based position (single-byte
    * [[beUIntAt]] — endianness is moot at width 1). */
  private def byteAt(bin: Column, pos: Column): Column = beUIntAt(bin, pos, 1)

  /** Dimension sanity bound shared by the decoder guards: fields parsed
    * out of untrusted headers are capped BEFORE any multiplication so the
    * guard arithmetic itself cannot overflow under ANSI mode (a crafted
    * 0xFFFFFFFF width×height otherwise throws ARITHMETIC_OVERFLOW instead
    * of declining to null — one corrupt record must never kill a 6-hour
    * pipeline). 2^20 ≫ any thumbnail this expression path is for; `&&`
    * short-circuits left-to-right in both interpreted and codegen eval,
    * so bounds conjuncts listed first protect the arithmetic after them. */
  private val DimBound = 1L << 20

  /** REAL 24bpp BMP pixel decode: per-channel (B,G,R) byte sums over the
    * pixel array, driven entirely by the file's own header — bfOffBits data
    * offset (bytes 11-14), width/height (19-26), and the 4-byte-aligned row
    * stride whose padding bytes are skipped. Null unless the payload is an
    * uncompressed (BI_RGB) 24bpp BMP with a complete pixel array.
    *
    * Shape: one `aggregate` over a `sequence` of pixel ordinals — a narrow
    * per-row expression, no shuffle, no UDF. Sums are order-invariant, so
    * BMP's bottom-up row order needs no special handling. Posture: right
    * for thumbnail/icon-scale assets (the sequence materializes one long
    * per pixel); megapixel media would move to the documented
    * `mapInArrow` codec batch path with this expression as its oracle. */
  def bmpPixelStats(payload: Column): Column = {
    val off    = leUInt(payload, 11, 4)
    val w      = leUInt(payload, 19, 4)
    val h      = leUInt(payload, 23, 4)
    val bpp    = leUInt(payload, 29, 2)
    val comp   = leUInt(payload, 31, 4)
    val stride = floor((w * 3 + 3) / 4).cast("long") * 4
    val sums = aggregate(
      sequence(lit(0L), w * h - 1),
      struct(lit(0L).as("b"), lit(0L).as("g"), lit(0L).as("r")),
      (acc, i) => {
        val x = pmod(i, w)
        val y = floor((i - x) / w).cast("long")
        val p = off + y * stride + x * 3 + 1 // 1-based byte position
        struct(
          (acc.getField("b") + byteAt(payload, p)).as("b"),
          (acc.getField("g") + byteAt(payload, p + 1)).as("g"),
          (acc.getField("r") + byteAt(payload, p + 2)).as("r"))
      })
    when(magic(payload, 1, 2) === "424D" && bpp === 24 && comp === 0 &&
      w > 0 && h > 0 && w <= DimBound && h <= DimBound && off <= DimBound &&
      length(payload) >= off + h * stride,
      struct(
        w.as("width"), h.as("height"), (w * h).as("n_px"),
        sums.getField("b").as("sum_b"),
        sums.getField("g").as("sum_g"),
        sums.getField("r").as("sum_r")))
  }

  /** REAL 24bpp BMP block-pooling resize cell: integer per-channel sums
    * and pixel count of ONE output cell of a gw×gh box resize — the
    * thumbnail/pooling kernel behind `q_img_resize`, emitted as exact
    * integers (no division) so the resized plane is engine-independent;
    * the consumer divides sum/n_px at whatever precision it wants.
    * Cell extents use the standard integer partition
    * x ∈ [⌊cx·w/gw⌋, ⌊(cx+1)·w/gw⌋) in TOP-DOWN image coordinates (BMP
    * stores rows bottom-up; y_img = h−1−y_file), so the output grid is a
    * true partition of the image: cells tile exactly, and summing all
    * cells reproduces [[bmpPixelStats]]'s totals. Header-driven like
    * [[bmpPixelStats]] (offset, dimensions, 4-byte row stride), same
    * narrow no-shuffle aggregate shape, same thumbnail-scale posture. */
  def bmpCellStats(payload: Column, gw: Int, gh: Int,
      cy: Column, cx: Column): Column = {
    val off    = leUInt(payload, 11, 4)
    val w      = leUInt(payload, 19, 4)
    val h      = leUInt(payload, 23, 4)
    val bpp    = leUInt(payload, 29, 2)
    val comp   = leUInt(payload, 31, 4)
    val stride = floor((w * 3 + 3) / 4).cast("long") * 4
    val x0 = floor(cx * w / gw).cast("long")
    val x1 = floor((cx + 1) * w / gw).cast("long")
    val y0 = floor(cy * h / gh).cast("long")
    val y1 = floor((cy + 1) * h / gh).cast("long")
    val sums = aggregate(
      filter(sequence(lit(0L), w * h - 1), i => {
        val x = pmod(i, w)
        val yImg = h - 1 - floor((i - x) / w).cast("long")
        x >= x0 && x < x1 && yImg >= y0 && yImg < y1
      }),
      struct(lit(0L).as("b"), lit(0L).as("g"), lit(0L).as("r")),
      (acc, i) => {
        val x = pmod(i, w)
        val yFile = floor((i - x) / w).cast("long")
        val p = off + yFile * stride + x * 3 + 1 // 1-based byte position
        struct(
          (acc.getField("b") + byteAt(payload, p)).as("b"),
          (acc.getField("g") + byteAt(payload, p + 1)).as("g"),
          (acc.getField("r") + byteAt(payload, p + 2)).as("r"))
      })
    when(magic(payload, 1, 2) === "424D" && bpp === 24 && comp === 0 &&
      w > 0 && h > 0 && w <= DimBound && h <= DimBound && off <= DimBound &&
      length(payload) >= off + h * stride &&
      cy >= 0 && cy < gh && cx >= 0 && cx < gw,
      struct(
        ((x1 - x0) * (y1 - y0)).as("n_px"),
        sums.getField("b").as("sum_b"),
        sums.getField("g").as("sum_g"),
        sums.getField("r").as("sum_r")))
  }

  /** REAL 16-bit PCM WAV sample decode: count / sum / sum-of-squares over
    * the data chunk's little-endian two's-complement samples (canonical
    * 44-byte header layout, data chunk at offset 37). Null unless the
    * payload is PCM (fmt 1), 16-bit, with a complete data chunk. Same
    * narrow aggregate shape and scale posture as [[bmpPixelStats]]. */
  def wavPcmStats(payload: Column): Column = {
    val fmt      = leUInt(payload, 21, 2)
    val bits     = leUInt(payload, 35, 2)
    val dataSize = leUInt(payload, 41, 4)
    val n        = floor(dataSize / 2).cast("long")
    val sums = aggregate(
      sequence(lit(0L), n - 1),
      struct(lit(0L).as("s"), lit(0L).as("sq")),
      (acc, i) => {
        val p = lit(45L) + i * 2
        val u = byteAt(payload, p) + byteAt(payload, p + 1) * 256
        val sv = when(u < 32768, u).otherwise(u - 65536)
        struct(
          (acc.getField("s") + sv).as("s"),
          (acc.getField("sq") + sv * sv).as("sq"))
      })
    when(magic(payload, 1, 4) === "52494646" &&
      magic(payload, 9, 4) === "57415645" &&
      magic(payload, 37, 4) === "64617461" &&
      fmt === 1 && bits === 16 && dataSize > 0 &&
      length(payload) >= dataSize + 44,
      struct(
        n.as("n_samples"),
        sums.getField("s").as("sum_samples"),
        sums.getField("sq").as("sum_sq")))
  }

  /** Windowed audio analysis over a 16-bit PCM WAV payload: per
    * `windowSamples`-wide window, the sample count, integer energy
    * (Σ sample²) and peak |sample| — the silence-detection / loudness-
    * segmentation primitive (an RMS threshold over `sum_sq / n_samples`
    * is the classic voice-activity gate; keeping the INTEGER energy
    * rather than a float RMS is what makes the output engine-exact).
    * Emits one array element per window; callers explode it. Null under
    * the same header contract as [[wavPcmStats]]. A CodegenFallback
    * kernel ([[graft.expressions.WavWindowStats]]) — the higher-order
    * formulation (aggregate nested in transform with hex-string byte
    * access) measured 6.5 s over sf0.1 where the byte-loop eval is
    * ~0.1 s. */
  def wavWindows(payload: Column, windowSamples: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.expressions.WavWindowStats(
        org.apache.spark.sql.graft.Bridge.expression(payload),
        windowSamples))

  /** Walk the chunk list (len·4 type·4 data crc·4) from 1-based position
    * `p`, returning the start of the first IDAT chunk within `depth`
    * chunks, else null. Unrolled to a nested CASE — chunk offsets are
    * data-dependent, but the minimal-PNG contract bounds the walk. The
    * in-bounds branch is checked FIRST (CASE arms evaluate in order), so a
    * corrupt chunk length that walks `p` past the payload — or past int
    * range — nulls out instead of throwing on the ANSI int cast. */
  private def findIdat(bin: Column, p: Column, depth: Int): Column =
    if (depth == 0) lit(null).cast("long")
    else when(p.isNull || p < 1 || p + 7 > length(bin).cast("long") + 1,
        lit(null).cast("long"))
      .when(hex(bin.substr(p.cast("int") + 4, lit(4))) === "49444154", p)
      .otherwise(findIdat(bin, p + 12 + beUIntAt(bin, p, 4), depth - 1))

  /** REAL PNG pixel decode for the STORED-block case: an RGB8 (bit depth
    * 8, color type 2, no interlace) PNG whose single IDAT carries a zlib
    * stream with one uncompressed DEFLATE block (BTYPE=00 — what every
    * encoder emits at compression level 0) and all-None (0) scanline
    * filters decodes with pure byte arithmetic: sig → IHDR → chunk walk to
    * IDAT (up to 2 ancillary chunks tolerated) → zlib header (dict-free) →
    * stored-block LEN → scanlines of 1 filter byte + 3·width pixel bytes.
    * Returns per-channel (R,G,B) pixel sums; null for anything else —
    * including Huffman-coded DEFLATE blocks, which genuinely need an
    * inflater and stay behind the documented `mapInArrow` codec seam (an
    * entropy decode is not a columnar expression). Checksums (CRC32,
    * Adler-32) are not verified — standard for a fast-path decoder.
    * Work is bounded by the 16-bit stored-block LEN (≤ 64 KiB of pixels),
    * so the guard also caps the aggregate. */
  def pngPixelStats(payload: Column): Column = {
    val w          = beUInt(payload, 17, 4)
    val h          = beUInt(payload, 21, 4)
    val depth      = beUInt(payload, 25, 1)
    val ctype      = beUInt(payload, 26, 1)
    val interlace  = beUInt(payload, 29, 1)
    val idat       = findIdat(payload, lit(34L), 3)
    val d          = idat + 8          // 1-based IDAT data start
    val rowBytes   = w * 3 + 1         // filter byte + RGB pixels
    val storedLen  = byteAt(payload, d + 3) + byteAt(payload, d + 4) * 256
    val r0         = d + 7             // first scanline (filter byte)
    val maxFilter = aggregate(
      sequence(lit(0L), h - 1), lit(0L),
      (acc, y) => greatest(acc, byteAt(payload, r0 + y * rowBytes)))
    val sums = aggregate(
      sequence(lit(0L), w * h - 1),
      struct(lit(0L).as("r"), lit(0L).as("g"), lit(0L).as("b")),
      (acc, i) => {
        val x = pmod(i, w)
        val y = floor((i - x) / w).cast("long")
        val p = r0 + y * rowBytes + 1 + x * 3
        struct(
          (acc.getField("r") + byteAt(payload, p)).as("r"),
          (acc.getField("g") + byteAt(payload, p + 1)).as("g"),
          (acc.getField("b") + byteAt(payload, p + 2)).as("b"))
      })
    when(magic(payload, 1, 4) === "89504E47" &&
      magic(payload, 13, 4) === "49484452" &&
      depth === 8 && ctype === 2 && interlace === 0 &&
      // a 16-bit stored-block LEN caps real pixels at 64 KiB anyway; the
      // explicit w/h bound keeps the h·rowBytes products below from ANSI-
      // overflowing on a crafted 0xFFFFFFFF-dims IHDR before LEN can veto
      w > 0 && h > 0 && w <= lit(65535L) && h <= lit(65535L) &&
      idat.isNotNull &&
      byteAt(payload, d + 1).bitwiseAND(lit(32L)) === 0 && // no preset dict
      byteAt(payload, d + 2) === 1 &&                      // BFINAL=1, BTYPE=00
      storedLen === h * rowBytes &&                        // one block covers all
      length(payload) >= r0 + h * rowBytes - 1 &&
      maxFilter === 0,                                     // every filter is None
      struct(
        w.as("width"), h.as("height"), (w * h).as("n_px"),
        sums.getField("r").as("sum_r"),
        sums.getField("g").as("sum_g"),
        sums.getField("b").as("sum_b")))
  }

  /** 54-byte header of a 3×3 24bpp BI_RGB BMP (stride 12 → 3 padding bytes
    * per row, so the decoder's padding skip is actually exercised). */
  private val Bmp3x3HeaderHex: String =
    "424D" + "5A000000" + "00000000" + "36000000" +          // file header
    "28000000" + "03000000" + "03000000" + "0100" + "1800" + // w, h, planes, bpp
    "00000000" + "24000000" + "00000000" + "00000000" +      // BI_RGB, 36-byte image
    "00000000" + "00000000"

  /** 44-byte canonical header of a mono 8 kHz 16-bit PCM WAV with a 32-byte
    * (16-sample) data chunk. */
  private val Wav16HeaderHex: String =
    "52494646" + "44000000" + "57415645" +          // RIFF size 68, WAVE
    "666D7420" + "10000000" + "0100" + "0100" +     // fmt, PCM, mono
    "401F0000" + "803E0000" + "0200" + "1000" +     // 8000 Hz, 16000 B/s, 16-bit
    "64617461" + "20000000"                         // data, 32 bytes

  /** Wrap the first 36 bytes of `pixelSource` as a valid 3×3 24bpp BMP —
    * the deterministic container builder behind `q_multimodal_decode`'s
    * full oracle (the oracle recomputes stats from the same source bytes
    * without parsing the container, so decode arithmetic is cross-checked
    * engine-vs-DuckDB). */
  def syntheticBmp3x3(pixelSource: Column): Column =
    concat(unhex(lit(Bmp3x3HeaderHex)), pixelSource.substr(lit(1), lit(36)))

  /** Wrap the first 32 bytes of `sampleSource` as a valid 16-sample PCM
    * WAV; sibling of [[syntheticBmp3x3]]. */
  def syntheticWav16(sampleSource: Column): Column =
    concat(unhex(lit(Wav16HeaderHex)), sampleSource.substr(lit(1), lit(32)))

  /** Constant prefix of a 3×3 RGB8 stored-block PNG: signature, IHDR (with
    * its true CRC32 — the IHDR bytes are fixed, so the checksum is a
    * compile-time constant), IDAT length/type, zlib header, and the
    * stored-block framing for the 30 raw bytes (3 scanlines × (1 filter +
    * 9 pixel bytes)). Computed once on the driver; ships as a literal. */
  private lazy val Png3x3PrefixHex: String = {
    val ihdr = "49484452" + "00000003" + "00000003" + "08" + "02" + "00" + "00" + "00"
    val crc = new java.util.zip.CRC32()
    crc.update(ihdr.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)
    "89504E470D0A1A0A" + "0000000D" + ihdr + f"${crc.getValue}%08X" +
      "00000029" + "49444154" + // IDAT, 41 data bytes (2+5+30+4)
      "7801" +                  // zlib: 32K window, no dict, check-ok
      "011E00E1FF"              // BFINAL=1 BTYPE=00, LEN=30, NLEN=~30
  }

  /** Wrap the first 27 bytes of `pixelSource` as a 3×3 RGB8 stored-block
    * PNG (filter None on every scanline). The zlib Adler-32 and IDAT CRC
    * trailers are zero-filled — [[pngPixelStats]] does not verify
    * checksums, and the genuine-checksum case is covered by the spec's
    * java.util.zip-built fixture. Third member of the synthetic-container
    * family behind `q_multimodal_decode`'s oracle. */
  def syntheticPng3x3(pixelSource: Column): Column =
    concat(unhex(lit(Png3x3PrefixHex)),
      unhex(lit("00")), pixelSource.substr(lit(1), lit(9)),
      unhex(lit("00")), pixelSource.substr(lit(10), lit(9)),
      unhex(lit("00")), pixelSource.substr(lit(19), lit(9)),
      unhex(lit("0000000000000000"))) // Adler-32 + IDAT CRC placeholders

  /** Perceptual average-hash over a 24bpp BMP payload: gw×gh block-mean
    * gray bits vs the global mean, packed MSB-first — the image twin of
    * SimHash (near-identical images differ in few bits; a Hamming band
    * join finds them). Integer-exact (cross-multiplied comparisons) so
    * the hash is engine-independent. See
    * [[graft.expressions.BmpAHash]]. */
  def aHashBmp(payload: Column, gw: Int, gh: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(graft.expressions.BmpAHash(
      org.apache.spark.sql.graft.Bridge.expression(payload), gw, gh))

  /** Sum of unsigned byte values of a binary column — pure codegen'd
    * built-ins, the cheap content witness for frame/payload comparisons
    * (DuckDB can recompute it from hex without a binary hash function).
    * Empty input sums to 0 (the unguarded sequence would DESCEND 1→0). */
  def byteSum(bin: Column): Column =
    when(length(bin) > 0,
      aggregate(sequence(lit(1L), length(bin).cast("long")), lit(0L),
        (acc, i) => acc + conv(hex(bin.substr(i.cast("int"), lit(1))), 16, 10)
          .cast("long")))
      .otherwise(lit(0L))

  /** Attach a binary payload column + typed metadata struct. The payload
    * here is the UTF-8 encoding of the text column (the test corpus has no
    * real media); with real data this is the raw media column as read. The
    * mime field is SNIFFED from the payload's magic bytes (text/plain
    * fallback for this corpus) — real container bytes identify themselves,
    * asserted on crafted BMP/WAV/PNG headers in CorpusOpsSpec. */
  def withPayload(df: DataFrame, textCol: String): DataFrame = {
    val bin = col(textCol).cast("binary")
    df.withColumn("payload", bin)
      .withColumn("media_meta", struct(
        length(bin).cast("long").as("n_bytes"),
        sha2(bin, 256).as("digest"),
        detectMime(bin, fallback = "text/plain").as("mime"),
        substring(col(textCol), 1, 8).as("head")))
  }

  /** STUB decoder: deterministic 8-dim feature vector derived from the
    * payload digest (two hex chars per dim, scaled to [0,1]). Real decode
    * (image resize / audio frames) would replace only this expression.
    * Built as a static `array(...)` projection, NOT a transform lambda: an
    * interpreted lambda re-evaluates the outer digest per element, while
    * codegen subexpression elimination computes the sha2 once here. */
  def decodeFeaturesStub(payload: Column): Column = {
    val digest = sha2(payload, 256)
    array((0 until 8).map(i =>
      (conv(substring(digest, i * 2 + 1, 2), 16, 10)
        .cast("double") / 255.0).cast("float")): _*)
  }

  /** Full stub pipeline: payload → metadata → features. */
  def extract(df: DataFrame, textCol: String): DataFrame =
    withPayload(df, textCol)
      .withColumn("features", decodeFeaturesStub(col("payload")))

  /** STUB frame sampler: every `stride`-th fixed-size window of the payload
    * becomes one "frame" row (frame_idx, byte offset, frame bytes) — the
    * video → frames explode. The schema and explode shape are the real
    * contract; a production decoder replaces the byte-window slicing with
    * codec output. One narrow explode, no shuffle; at 100 TB the frames
    * inherit the payload's partitioning. */
  def sampleFrames(df: DataFrame, frameBytes: Int = 16,
      stride: Int = 4): DataFrame = {
    val nFrames =
      floor((length(col("payload")) - frameBytes) / (frameBytes * stride))
        .cast("int") + 1
    // payloads shorter than one frame yield ZERO frames: an unguarded
    // sequence(0, nFrames-1) with nFrames <= 0 descends (step -1) and emits
    // spurious negative-offset frames
    val idxs = when(nFrames > 0, sequence(lit(0), nFrames - 1))
      .otherwise(array().cast("array<int>"))
    df.withColumn("frame", explode(transform(
        idxs,
        i => {
          val off = i * (frameBytes * stride) + 1
          struct(
            i.as("frame_idx"),
            (off - 1).cast("long").as("byte_offset"),
            // substring works positionally on binary payloads
            col("payload").substr(off, lit(frameBytes)).as("bytes"))
        })))
      .select(df.columns.toIndexedSeq.map(col) :+ col("frame.frame_idx")
        :+ col("frame.byte_offset") :+ col("frame.bytes").as("frame_bytes"): _*)
  }
}
