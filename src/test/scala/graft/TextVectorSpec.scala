package graft

import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators.Similarity

/** Text-analysis + vector-math unit checks on crafted fixtures. */
class TextVectorSpec extends SparkSpec {
  import spark.implicits._

  test("langId classifies real multilingual sentences") {
    val df = Seq(
      (1L, "the cat is on the roof of the house"),
      (2L, "der hund und die katze das ist gut"),
      (3L, "le chat et la maison les arbres est grand"),
      (4L, "el perro y la casa los gatos es grande"),
      (5L, "xyzzy qwerty plugh")
    ).toDF("id", "text")
    val got = df.select(col("id"), TextFunctions.langId(col("text")))
      .as[(Long, String)].collect().toMap
    assert(got(1L) === "en")
    assert(got(2L) === "de")
    assert(got(3L) === "fr")
    assert(got(4L) === "es")
    assert(got(5L) === "und")
  }

  test("token counts and quality signals") {
    val df = Seq((1L, "the the the aa bb")).toDF("id", "text")
    val r = df.select(
      TextFunctions.tokenCount(col("text")),
      TextFunctions.stopwordRatio(col("text"), Seq("the", "a")),
      TextFunctions.dupTokenRatio(col("text")),
      TextFunctions.avgWordLen(col("text")))
      .as[(Long, Double, Double, Double)].head()
    assert(r._1 === 5L)
    assert(r._2 === 0.6)      // 3 of 5 are 'the'
    assert(r._3 === 1.0 - 3.0 / 5.0) // 3 distinct of 5
    assert(r._4 === 13.0 / 5.0)      // 13 chars over 5 tokens
  }

  test("wordShingles: exact shingles; short documents yield zero shingles") {
    val df = Seq((1L, "one two"), (2L, "one two three four")).toDF("id", "text")
    val got = df.select(col("id"),
      TextFunctions.wordShingles(col("text"), 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got(1L) === Seq.empty) // < n tokens → no truncated shingle
    assert(got(2L) === Seq("one two three", "two three four"))
  }

  test("cosine/dot/norm on known vectors") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (Array(1.0f, 2.0f), Array(2.0f, 4.0f)),
      (Array(3.0f, 4.0f), Array(3.0f, 4.0f))
    ).toDF("a", "b")
    val rows = df.select(
      VectorFunctions.dot(col("a"), col("b")),
      VectorFunctions.norm(col("a")),
      round(VectorFunctions.cosine(col("a"), col("b")), 9))
      .as[(Double, Double, Double)].collect()
    assert(rows(0) === ((0.0, 1.0, 0.0)))
    assert(rows(1) === ((10.0, math.sqrt(5.0), 1.0)))
    assert(rows(2) === ((25.0, 5.0, 1.0)))
  }

  test("cosineTopK ranks an identical vector first") {
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f, 0.0f)),
      (11L, Array(0.9f, 0.1f, 0.0f)),
      (12L, Array(0.0f, 1.0f, 0.0f)),
      (13L, Array(-1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val queries = Seq((1L, Array(1.0f, 0.0f, 0.0f))).toDF("q_id", "q_emb")
    val top = Similarity.cosineTopK(queries, corpus, 3)
      .orderBy("rnk").select("vec_id").as[Long].collect()
    assert(top.toSeq === Seq(10L, 11L, 12L))
  }

  test("typed Aggregators: weighted mean and range agg, grouped and whole") {
    import org.apache.spark.sql.functions.udaf
    val wm = udaf(new graft.functions.TypedAggregators.WeightedMean)
    val df = Seq(
      ("a", 10.0, 1.0), ("a", 20.0, 3.0), // wmean = (10+60)/4 = 17.5
      ("b", 5.0, 2.0)
    ).toDF("k", "v", "w")
    val got = df.groupBy("k")
      .agg(wm(col("v"), col("w")).as("wmean"))
      .orderBy("k").as[(String, Double)].collect().toSeq
    assert(got === Seq(("a", 17.5), ("b", 5.0)))

    val range = udaf(new graft.functions.TypedAggregators.RangeAgg)
    val r = Seq(3.0, 9.0, 1.0).toDF("v")
      .agg(range(col("v")).as("r"))
      .select(col("r._1"), col("r._2")).as[(Double, Long)].head()
    assert(r === ((8.0, 3L)))
  }

  test("BMP pixel decode: header-driven offsets, stride padding skipped") {
    // 3×3 pixels (stride 12): rows carry 9 pixel bytes + 3 padding bytes
    // (AA/BB/CC) that a correct decoder must skip.
    val pixHex =
      "010203" + "040506" + "070809" + "AAAAAA" +
      "0A0B0C" + "0D0E0F" + "101112" + "BBBBBB" +
      "131415" + "161718" + "191A1B" + "CCCCCC"
    val r = Seq(1).toDF("id")
      .select(graft.operators.Multimodal
        .syntheticBmp3x3(unhex(lit(pixHex))).as("p"))
      .select(graft.operators.Multimodal.bmpPixelStats(col("p")).as("s"))
      .selectExpr("s.width", "s.height", "s.n_px", "s.sum_b", "s.sum_g",
        "s.sum_r")
      .as[(Long, Long, Long, Long, Long, Long)].head()
    // B = 1+4+7+10+13+16+19+22+25, G = B+9, R = B+18 (hand-computed)
    assert(r === ((3L, 3L, 9L, 117L, 126L, 135L)))
  }

  test("BMP pixel decode: 2x2 stride-8 layout and non-BMP rejection") {
    // Hand-built header (NOT the synthetic builder): w=2 → row bytes 6,
    // stride 8 — decode must honor the 4-byte alignment for a different
    // width than the builder's.
    val hdr = "424D" + "46000000" + "00000000" + "36000000" +
      "28000000" + "02000000" + "02000000" + "0100" + "1800" +
      "00000000" + "10000000" + "00000000" + "00000000" +
      "00000000" + "00000000"
    val pix = "010203" + "040506" + "FFFF" + "070809" + "0A0B0C" + "EEEE"
    val df = Seq(
      (1L, hdr + pix),    // valid 2×2 BMP
      (2L, "00112233")    // not a BMP → null
    ).toDF("id", "hex")
      .select(col("id"),
        graft.operators.Multimodal.bmpPixelStats(unhex(col("hex"))).as("s"))
    val rows = df.selectExpr("id", "s.n_px", "s.sum_b", "s.sum_g", "s.sum_r")
      .as[(Long, Option[Long], Option[Long], Option[Long], Option[Long])]
      .collect().sortBy(_._1)
    assert(rows(0) === ((1L, Some(4L), Some(22L), Some(26L), Some(30L))))
    assert(rows(1) === ((2L, None, None, None, None)))
  }

  test("PNG stored-block decode: genuine level-0 PNG built with java.util.zip") {
    import java.util.zip.{CRC32, Deflater}
    def chunk(tpe: String, data: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(12 + data.length)
      bb.putInt(data.length); bb.put(tpe.getBytes("ASCII")); bb.put(data)
      val c = new CRC32(); c.update(tpe.getBytes("ASCII")); c.update(data)
      bb.putInt(c.getValue.toInt); bb.array()
    }
    def deflate(raw: Array[Byte], level: Int): Array[Byte] = {
      val d = new Deflater(level); d.setInput(raw); d.finish()
      val buf = new Array[Byte](raw.length + 64)
      val n = d.deflate(buf); d.end(); buf.take(n)
    }
    val sig = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)
    val (w, h) = (2, 2)
    val pixels = Array(255, 0, 0, 0, 255, 0, 0, 0, 255, 10, 20, 30).map(_.toByte)
    val raw = (0 until h).toArray.flatMap(y =>
      0.toByte +: pixels.slice(y * 3 * w, (y + 1) * 3 * w))
    val ihdr = java.nio.ByteBuffer.allocate(13).putInt(w).putInt(h)
      .put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
      .array()
    // level 0 → one stored DEFLATE block; real CRC32s and Adler-32
    val png0 = sig ++ chunk("IHDR", ihdr) ++
      chunk("IDAT", deflate(raw, 0)) ++ chunk("IEND", Array.empty)
    // an ancillary chunk before IDAT exercises the chunk walk
    val pngA = sig ++ chunk("IHDR", ihdr) ++ chunk("sRGB", Array(0.toByte)) ++
      chunk("IDAT", deflate(raw, 0)) ++ chunk("IEND", Array.empty)
    // level 6 → Huffman-coded blocks → decoder must decline, not misread
    val png6 = sig ++ chunk("IHDR", ihdr) ++
      chunk("IDAT", deflate(raw, 6)) ++ chunk("IEND", Array.empty)
    val rows = Seq((1L, png0), (2L, pngA), (3L, png6))
      .toDF("id", "payload")
      .select(col("id"),
        graft.operators.Multimodal.pngPixelStats(col("payload")).as("s"))
      .selectExpr("id", "s.n_px", "s.sum_r", "s.sum_g", "s.sum_b")
      .as[(Long, Option[Long], Option[Long], Option[Long], Option[Long])]
      .collect().sortBy(_._1)
    assert(rows(0) === ((1L, Some(4L), Some(265L), Some(275L), Some(285L))))
    assert(rows(1) === ((2L, Some(4L), Some(265L), Some(275L), Some(285L))))
    assert(rows(2) === ((3L, None, None, None, None)))
  }

  test("synthetic PNG builder round-trips through the stored-block decoder") {
    val pixHex = "010203" + "040506" + "070809" +
      "0A0B0C" + "0D0E0F" + "101112" +
      "131415" + "161718" + "191A1B"
    val r = Seq(1).toDF("id")
      .select(graft.operators.Multimodal
        .syntheticPng3x3(unhex(lit(pixHex))).as("p"))
      .select(graft.operators.Multimodal.pngPixelStats(col("p")).as("s"))
      .selectExpr("s.n_px", "s.sum_r", "s.sum_g", "s.sum_b")
      .as[(Long, Long, Long, Long)].head()
    // R = 1+4+7+10+13+16+19+22+25 = 117 (PNG is RGB, so R leads)
    assert(r === ((9L, 117L, 126L, 135L)))
  }

  test("corrupt headers decode to null, never throw (ANSI overflow hardening)") {
    // Crafted hostile headers: 0xFFFFFFFF BMP dims (guard product would
    // overflow a long), a PNG IHDR with 0xFFFFFFFF dims, and a PNG whose
    // pre-IDAT chunk declares a ~2^31 length (the chunk walk would cast
    // past int range). Under Spark's default ANSI mode each of these threw
    // before the bounds guards existed; the decode contract is null.
    val evilBmp = "424D" + "46000000" + "00000000" + "36000000" +
      "28000000" + "FFFFFFFF" + "FFFFFFFF" + "0100" + "1800" +
      "00000000" + "10000000" + ("00000000" * 4) + ("00" * 32)
    val pngSig = "89504E470D0A1A0A"
    val evilPngDims = pngSig + "0000000D" + "49484452" +
      "FFFFFFFF" + "FFFFFFFF" + "08" + "02" + "00" + "00" + "00" +
      "00000000" + "00000029" + "49444154" + "7801" + "011E00E1FF" +
      ("00" * 38)
    val evilChunkLen = pngSig + "0000000D" + "49484452" +
      "00000003" + "00000003" + "08" + "02" + "00" + "00" + "00" +
      "00000000" + "7FFFFFF0" + "73524742" + ("00" * 16)
    val rows = Seq((1L, evilBmp), (2L, evilPngDims), (3L, evilChunkLen))
      .toDF("id", "hex")
      .select(col("id"),
        graft.operators.Multimodal.bmpPixelStats(unhex(col("hex"))).as("b"),
        graft.operators.Multimodal.pngPixelStats(unhex(col("hex"))).as("p"),
        graft.operators.Multimodal.wavPcmStats(unhex(col("hex"))).as("w"))
      .selectExpr("id", "b is null", "p is null", "w is null")
      .as[(Long, Boolean, Boolean, Boolean)].collect().sortBy(_._1)
    assert(rows.forall { case (_, b, p, w) => b && p && w }, rows.toSeq)
  }

  test("WAV PCM decode: signed 16-bit samples, exact sums") {
    // Samples 1, -1, -32768, 32767, then twelve zeros (little-endian).
    val sampHex = "0100" + "FFFF" + "0080" + "FF7F" + ("0000" * 12)
    val r = Seq(1).toDF("id")
      .select(graft.operators.Multimodal
        .syntheticWav16(unhex(lit(sampHex))).as("p"))
      .select(graft.operators.Multimodal.wavPcmStats(col("p")).as("s"))
      .selectExpr("s.n_samples", "s.sum_samples", "s.sum_sq")
      .as[(Long, Long, Long)].head()
    // sum = 1-1-32768+32767 = -1; sumsq = 1+1+32768²+32767² (two's
    // complement extremes prove the signedness handling)
    assert(r === ((16L, -1L, 2147418115L)))
  }

  test("WAV PCM decode rejects truncated and non-PCM payloads") {
    val good = graft.operators.Multimodal.syntheticWav16(
      unhex(lit("00" * 32)))
    val rows = Seq(1).toDF("id")
      .select(
        // truncate below 44+dataSize → guard must null out
        graft.operators.Multimodal.wavPcmStats(good.substr(lit(1), lit(60)))
          .as("t"),
        graft.operators.Multimodal.wavPcmStats(unhex(lit("52494646")))
          .as("n"))
      .selectExpr("t is null", "n is null").as[(Boolean, Boolean)].head()
    assert(rows === ((true, true)))
  }

  test("multimodal frame sampling: offsets, strides, and frame bytes") {
    val df = Seq((1L, "abcdefghijklmnopqrstuvwxyz0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ-_!?"))
      .toDF("doc_id", "text")
    val frames = graft.operators.Multimodal.sampleFrames(
      graft.operators.Multimodal.withPayload(df, "text"),
      frameBytes = 8, stride = 2)
      .select(col("frame_idx"), col("byte_offset"),
        expr("cast(frame_bytes as string)"))
      .as[(Int, Long, String)].collect().sortBy(_._1)
    // 66-byte payload, 8-byte frames every 16 bytes → frames at 0,16,32,48
    assert(frames.map(_._2).toSeq === Seq(0L, 16L, 32L, 48L))
    assert(frames.head._3 === "abcdefgh")
    assert(frames(1)._3 === "qrstuvwx")
    assert(frames.forall(_._3.length === 8))
  }

  test("multimodal frame sampling: short payload yields zero frames") {
    val df = Seq((1L, "abc"), (2L, "0123456789abcdef")).toDF("doc_id", "text")
    val frames = graft.operators.Multimodal.sampleFrames(
      graft.operators.Multimodal.withPayload(df, "text"),
      frameBytes = 16, stride = 4)
      .select(col("doc_id"), col("frame_idx"), col("byte_offset"))
      .as[(Long, Int, Long)].collect()
    // doc 1 (3 bytes < one frame) must emit nothing — not frame_idx -1 with
    // a negative byte offset; doc 2 is exactly one frame
    assert(frames.toSeq === Seq((2L, 0, 0L)))
  }

  test("weighted mean survives partition-split merges (closed-form parity)") {
    import org.apache.spark.sql.functions.udaf
    val wm = udaf(new graft.functions.TypedAggregators.WeightedMean)
    val df = spark.range(0, 1000)
      .select((col("id") % 3).cast("string").as("k"),
        (col("id") * 7 % 101).cast("double").as("v"),
        (col("id") % 13 + 1).cast("double").as("w"))
      .repartition(7) // force non-trivial partial-buffer merges
    val got = df.groupBy("k").agg(wm(col("v"), col("w")).as("wmean"))
      .as[(String, Double)].collect().toMap
    val want = df.groupBy("k")
      .agg((sum(col("v") * col("w")) / sum(col("w"))).as("m"))
      .as[(String, Double)].collect().toMap
    for ((k, m) <- want)
      assert(math.abs(got(k) - m) < 1e-9, s"k=$k got=${got(k)} want=$m")
  }

  test("multimodal stub: payload round-trip + deterministic features") {
    val df = Seq((1L, "hello world")).toDF("doc_id", "text")
    val out = graft.operators.Multimodal.extract(df, "text")
    val r = out.select(
      col("media_meta.n_bytes"),
      expr("cast(payload as string)"),
      size(col("features")))
      .as[(Long, String, Int)].head()
    assert(r._1 === 11L)
    assert(r._2 === "hello world")
    assert(r._3 === 8)
    // determinism: same payload → same features
    val f1 = out.select("features").as[Array[Float]].head().toSeq
    val f2 = out.select("features").as[Array[Float]].head().toSeq
    assert(f1 === f2)
    assert(f1.forall(v => v >= 0.0f && v <= 1.0f))
  }
}
