package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video payloads travel as
  * opaque `binary` columns beside typed metadata, exactly like large
  * training-data pipelines ship them in parquet. Image decode is REAL
  * for every format a crawl's image payloads actually carry —
  * [[imageDecode]]/[[decodeImageStats]] sniff the container from magic
  * bytes ([[sniffImageFormat]]) and run `javax.imageio` (PNG/JPEG/GIF/
  * BMP readers ship with the JDK) over the actual raster, gated by the
  * `q_decode_real`/`q_decode_png`/`q_decode_gif`/`q_decode_jpeg`
  * round-trip oracles against synthetic encode twins ([[imageEncode]]).
  * Audio is real too ([[wavDecode]] etc., `javax.sound.sampled`).
  * Only VIDEO remains a stub (no pure-JVM codec exists): the
  * frame-sampling shape is real, the per-frame feature is md5-derived
  * — swap an opencv/ffmpeg call per partition into the same slot and
  * nothing else changes. [[stubDecode]] (label `"stub"`) remains for
  * non-media byte payloads.
  */
object Multimodal {

  // ImageIO defaults to a DISK-backed stream cache — a temp file per
  // encode/decode call. Every payload here is an in-memory byte array
  // (tiny headers to ~MB images); per-row /tmp churn at 100 TB would
  // be an I/O bottleneck for zero benefit.
  javax.imageio.ImageIO.setUseCache(false)

  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("format", StringType, nullable = false),
    StructField("n_bytes", LongType, nullable = false)))

  /** Attach a binary payload column (here derived from text — in a real
    * pipeline this is the stored media blob) plus its byte length.
    */
  def attachBinary(df: DataFrame, srcCol: String, binCol: String = "payload"): DataFrame =
    df.withColumn(binCol, col(srcCol).cast(BinaryType))
      .withColumn(s"${binCol}_bytes", length(col(binCol)).cast("long"))

  /** STUB decoder: deterministic pseudo-metadata from the payload bytes.
    * Pure column arithmetic so it is oracle-reproducible; a real decoder
    * would run per-partition (see [[decodePartitioned]]). The format
    * label is the honest literal `"stub"` — it is NOT a sniffed media
    * format (the payload here is arbitrary bytes); real format labels
    * come from [[sniffImageFormat]] on the real-decode path.
    */
  def fakeDecodeMeta(df: DataFrame, binCol: String = "payload"): DataFrame = {
    val nBytes = length(col(binCol)).cast("long")
    df.withColumn("width", (pmod(nBytes, lit(512L)) + 64L).cast("int"))
      .withColumn("height", (pmod(nBytes, lit(384L)) + 64L).cast("int"))
      .withColumn("format", lit("stub"))
      .withColumn("n_bytes", nBytes)
  }

  /** Partition-batched decode shape: the real-decoder slot. Batches rows
    * per partition through `decode` (bytes => metadata Row) — this is
    * where a JNI/ffi decoder plugs in; the default is the REAL
    * [[imageDecode]] (JDK ImageIO: PNG/JPEG/GIF/BMP — the formats a
    * real crawl's image payloads actually ship). Pass [[stubDecode]]
    * explicitly for non-media byte payloads. Output partitioning
    * preserves input partitioning (narrow op).
    */
  def decodePartitioned(
      df: DataFrame,
      binCol: String,
      decode: Array[Byte] => (Int, Int, String) = imageDecode): DataFrame = {
    val schema = StructType(df.schema.fields ++ mediaMetaSchema.fields)
    val binIdx = df.schema.fieldIndex(binCol)
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        val (w, h, fmt) = decode(bytes)
        Row.fromSeq(r.toSeq ++ Seq(w, h, fmt, bytes.length.toLong))
      }
    }(enc)
  }

  /** Deterministic fake decode — stands in for an image library on
    * payloads that are NOT decodable media (label `"stub"`, never a
    * real format name).
    */
  def stubDecode(bytes: Array[Byte]): (Int, Int, String) = {
    val n = bytes.length.toLong
    (((n % 512) + 64).toInt, ((n % 384) + 64).toInt, "stub")
  }

  /** Magic-byte image format sniff — the container-level twin of
    * `sniff_charset`: PNG (PNG), JPEG (FF D8 FF), GIF (GIF87a/
    * GIF89a), BMP (BM); null when the bytes are none of them. Pure
    * byte inspection, no decode — cheap enough to route on (the MIME
    * router uses the Content-Type HEADER; this sniff is the
    * trust-but-verify check against mislabeled payloads).
    */
  def sniffImageFormat(bytes: Array[Byte]): String = {
    if (bytes == null || bytes.length < 4) return null
    def b(i: Int): Int = bytes(i) & 0xFF
    if (b(0) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') "png"
    else if (b(0) == 0xFF && b(1) == 0xD8 && b(2) == 0xFF) "jpeg"
    else if (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8') "gif"
    else if (b(0) == 'B' && b(1) == 'M') "bmp"
    else null
  }

  /** REAL image decoder for the pluggable slot — PNG/JPEG/GIF/BMP via
    * `javax.imageio` (all four readers ship with the JDK, no external
    * library): sniffs the container format from magic bytes, decodes
    * the actual raster, returns (width, height, sniffedFormat). Throws
    * an operator-named error on an unrecognized or undecodable payload
    * (wrap in the skip-poisoned Transformer for dirty crawls).
    */
  def imageDecode(bytes: Array[Byte]): (Int, Int, String) = {
    val fmt = sniffImageFormat(bytes)
    require(fmt != null,
      "imageDecode: payload is not a recognized image container " +
        "(png/jpeg/gif/bmp magic bytes)")
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    require(img != null, s"imageDecode: $fmt payload failed to decode")
    (img.getWidth, img.getHeight, fmt)
  }

  /** REAL pure-JVM decoder for the pluggable slot — BMP via
    * `javax.imageio` (the BMP reader ships with the JDK, no external
    * library): decodes the actual bitmap, returns (width, height,
    * "bmp") for [[decodePartitioned]]. The stub stays the DEFAULT —
    * this is the proof that the slot takes a genuine decoder
    * unchanged. Throws on an undecodable payload (a real pipeline
    * wraps this in [[graft.operators.Transformer]]'s skip-poisoned
    * handling; the gate feeds only valid synthetic bitmaps).
    */
  def bmpDecode(bytes: Array[Byte]): (Int, Int, String) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    require(img != null, "bmpDecode: payload is not a decodable image")
    (img.getWidth, img.getHeight, "bmp")
  }

  /** Deterministic synthetic 24-bit BMP: solid color (v, v, v), rows
    * padded to 4 bytes per the format — the test-data generator for
    * the real-decoder gate. Exact layout: 14-byte file header +
    * 40-byte BITMAPINFOHEADER + stride·h pixel bytes, so
    * `n_bytes = 54 + (((w·3 + 3) div 4)·4)·h` is oracle-recomputable.
    */
  def bmpEncode(w: Int, h: Int, v: Int): Array[Byte] = {
    require(w >= 1 && h >= 1 && v >= 0 && v <= 255,
      s"bmpEncode: need w,h >= 1 and v in [0,255], got ($w, $h, $v)")
    val stride = ((w * 3 + 3) / 4) * 4
    val size = 54 + stride * h
    val b = java.nio.ByteBuffer.allocate(size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(size)
      .putInt(0).putInt(54)                       // reserved, pixel offset
    b.putInt(40).putInt(w).putInt(h)              // BITMAPINFOHEADER
      .putShort(1).putShort(24)                   // planes, 24bpp
      .putInt(0).putInt(stride * h)               // BI_RGB, image size
      .putInt(2835).putInt(2835).putInt(0).putInt(0)
    val row = Array.fill(stride)(0.toByte)
    java.util.Arrays.fill(row, 0, w * 3, v.toByte)
    (0 until h).foreach(_ => b.put(row))
    b.array()
  }

  /** Attach a synthetic BMP payload built row-locally from integer
    * columns (narrow map, no shuffle) — pairs with [[decodeBmpStats]]
    * so the gate proves the REAL decoder round-trips dimensions AND
    * pixel data the table's columns determined.
    */
  def attachSyntheticBmp(df: DataFrame, wCol: Column, hCol: Column,
      vCol: Column, binCol: String = "payload"): DataFrame = {
    val staged = df.withColumn("_bw", wCol.cast("int"))
      .withColumn("_bh", hCol.cast("int")).withColumn("_bv", vCol.cast("int"))
    val schema = StructType(staged.schema.fields :+
      StructField(binCol, BinaryType, nullable = false))
    val (wi, hi, vi) = (staged.schema.fieldIndex("_bw"),
      staged.schema.fieldIndex("_bh"), staged.schema.fieldIndex("_bv"))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    staged.mapPartitions { rows =>
      rows.map { r =>
        // getInt silently unboxes a null to 0 — fail with the operator's
        // name instead of a confusing bmpEncode requirement deep in a task
        require(!r.isNullAt(wi) && !r.isNullAt(hi) && !r.isNullAt(vi),
          "attachSyntheticBmp: null width/height/intensity — filter " +
            "null inputs upstream (the gate mirrors the filter in its oracle)")
        Row.fromSeq(r.toSeq :+
          bmpEncode(r.getInt(wi), r.getInt(hi), r.getInt(vi)))
      }
    }(enc).drop("_bw", "_bh", "_bv")
  }

  /** REAL image decode + pixel statistics per partition: width, height,
    * format, byte size, and the mean blue-channel intensity off the
    * decoded raster (`getRGB` — actual pixel access, not header
    * sniffing). Same narrow partition-batched shape as
    * [[decodePartitioned]]; this is what the gate runs with
    * [[bmpDecode]]-produced images.
    */
  def decodeBmpStats(df: DataFrame, binCol: String): DataFrame = {
    val schema = StructType(df.schema.fields ++ mediaMetaSchema.fields :+
      StructField("px_mean", LongType, nullable = false))
    val binIdx = df.schema.fieldIndex(binCol)
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        require(img != null, "decodeBmpStats: payload is not a decodable image")
        val (w, h) = (img.getWidth, img.getHeight)
        var sum = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { sum += (img.getRGB(x, y) & 0xFF); x += 1 }
          y += 1
        }
        Row.fromSeq(r.toSeq ++
          Seq(w, h, "bmp", bytes.length.toLong, sum / (w.toLong * h)))
      }
    }(enc)
  }

  /** Deterministic synthetic image in any JDK-writable web format —
    * the generalization of [[bmpEncode]] to the formats a real crawl's
    * image payloads actually carry: a solid-color (v, v, v) w×h
    * raster encoded as png, gif, jpeg or bmp. PNG/GIF/BMP are LOSSLESS
    * (the decoded raster is bit-identical to the constructed one, so
    * per-pixel stats are oracle-recomputable in closed form from
    * (w, h, v)); JPEG is lossy — dimensions and container format stay
    * exact, pixel values only approximately (gate dims, bound the
    * rest in specs). Byte LENGTH is encoder-dependent for all but bmp
    * — do not pin n_bytes for png/gif/jpeg.
    */
  def imageEncode(w: Int, h: Int, v: Int, format: String): Array[Byte] = {
    require(w >= 1 && h >= 1 && v >= 0 && v <= 255,
      s"imageEncode: need w,h >= 1 and v in [0,255], got ($w, $h, $v)")
    format match {
      case "bmp" => bmpEncode(w, h, v)
      case "png" | "gif" | "jpeg" =>
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
        val rgb = (v << 16) | (v << 8) | v
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { img.setRGB(x, y, rgb); x += 1 }
          y += 1
        }
        val out = new java.io.ByteArrayOutputStream()
        val ok = javax.imageio.ImageIO.write(img, format, out)
        require(ok, s"imageEncode: no JDK writer for '$format'")
        out.toByteArray
      case other => throw new IllegalArgumentException(
        s"imageEncode: unknown format '$other' (png|gif|jpeg|bmp)")
    }
  }

  /** Attach a synthetic image payload in a per-row FORMAT (string
    * column: png|gif|jpeg|bmp) built row-locally from integer columns
    * (narrow map, no shuffle) — the multi-format generalization of
    * [[attachSyntheticBmp]], pairing with [[decodeImageStats]] so the
    * gates prove the real decoder + sniffing round-trip every
    * container a crawl ships.
    */
  def attachSyntheticImage(df: DataFrame, wCol: Column, hCol: Column,
      vCol: Column, formatCol: Column, binCol: String = "payload"): DataFrame = {
    val staged = df.withColumn("_iw", wCol.cast("int"))
      .withColumn("_ih", hCol.cast("int")).withColumn("_iv", vCol.cast("int"))
      .withColumn("_if", formatCol.cast("string"))
    val schema = StructType(staged.schema.fields :+
      StructField(binCol, BinaryType, nullable = false))
    val (wi, hi, vi, fi) = (staged.schema.fieldIndex("_iw"),
      staged.schema.fieldIndex("_ih"), staged.schema.fieldIndex("_iv"),
      staged.schema.fieldIndex("_if"))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    staged.mapPartitions { rows =>
      rows.map { r =>
        require(!r.isNullAt(wi) && !r.isNullAt(hi) && !r.isNullAt(vi) &&
          !r.isNullAt(fi),
          "attachSyntheticImage: null width/height/intensity/format — " +
            "filter null inputs upstream (the gate mirrors the filter " +
            "in its oracle)")
        Row.fromSeq(r.toSeq :+ imageEncode(r.getInt(wi), r.getInt(hi),
          r.getInt(vi), r.getString(fi)))
      }
    }(enc).drop("_iw", "_ih", "_iv", "_if")
  }

  /** REAL multi-format image decode + pixel statistics per partition:
    * the container format SNIFFED from magic bytes (never trusted from
    * metadata), dimensions and mean blue-channel intensity off the
    * decoded raster — [[decodeBmpStats]] generalized to every format
    * the JDK reads (png/jpeg/gif/bmp). Same narrow partition-batched
    * shape; byte size is surfaced but encoder-dependent for compressed
    * formats (pin it only for bmp).
    */
  def decodeImageStats(df: DataFrame, binCol: String): DataFrame = {
    val schema = StructType(df.schema.fields ++ mediaMetaSchema.fields :+
      StructField("px_mean", LongType, nullable = false))
    val binIdx = df.schema.fieldIndex(binCol)
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        val fmt = sniffImageFormat(bytes)
        require(fmt != null,
          "decodeImageStats: payload is not a recognized image container")
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes))
        require(img != null, s"decodeImageStats: $fmt payload failed to decode")
        val (w, h) = (img.getWidth, img.getHeight)
        var sum = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { sum += (img.getRGB(x, y) & 0xFF); x += 1 }
          y += 1
        }
        Row.fromSeq(r.toSeq ++
          Seq(w, h, fmt, bytes.length.toLong, sum / (w.toLong * h)))
      }
    }(enc)
  }

  /** Deterministic synthetic 16-bit PCM mono WAV — the audio twin of
    * [[bmpEncode]]: an on/off square wave (sample i = `amp` when
    * `(i div period)` is even, else 0), so every whole-payload and
    * per-frame statistic is oracle-recomputable in closed form from
    * (nSamples, amp, period): with g(x) = (x div 2p)·p + min(x mod 2p,
    * p), the count of nonzero samples in [0, x) is g(x), peak = amp
    * (sample 0 is always amp), Σ s² = g(n)·amp². Exact layout: 44-byte
    * RIFF/fmt/data header + 2·n sample bytes, little-endian — so
    * `n_bytes = 44 + 2·n` is oracle-recomputable too.
    */
  def wavEncode(nSamples: Int, amp: Int, period: Int,
      sampleRate: Int = 8000): Array[Byte] = {
    // amp >= 1, not >= 0: the documented closed form (nonzero count in
    // [0,x) is g(x), peak = amp) is FALSE for an all-zero signal, and
    // the gates' oracles are built on that contract.
    require(nSamples >= 1 && amp >= 1 && amp <= 32767 && period >= 1 &&
      sampleRate >= 1,
      s"wavEncode: need n >= 1, amp in [1,32767], period >= 1, rate >= 1," +
        s" got ($nSamples, $amp, $period, $sampleRate)")
    val dataSize = nSamples * 2
    val b = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1)                     // PCM, mono
      .putInt(sampleRate).putInt(sampleRate * 2)   // rate, byte rate
      .putShort(2).putShort(16)                    // block align, bits
    b.put("data".getBytes("US-ASCII")).putInt(dataSize)
    var i = 0
    while (i < nSamples) {
      b.putShort(if ((i / period) % 2 == 0) amp.toShort else 0.toShort)
      i += 1
    }
    b.array()
  }

  /** Attach a synthetic WAV payload built row-locally from integer
    * columns (narrow map, no shuffle) — the audio twin of
    * [[attachSyntheticBmp]], pairing with [[decodeWavStats]] /
    * [[audioFrameFeatures]] so the gates prove the REAL audio decoder
    * round-trips the sample data the table's columns determined.
    */
  def attachSyntheticWav(df: DataFrame, nCol: Column, ampCol: Column,
      periodCol: Column, binCol: String = "payload"): DataFrame = {
    val staged = df.withColumn("_wn", nCol.cast("int"))
      .withColumn("_wa", ampCol.cast("int"))
      .withColumn("_wp", periodCol.cast("int"))
    val schema = StructType(staged.schema.fields :+
      StructField(binCol, BinaryType, nullable = false))
    val (ni, ai, pi) = (staged.schema.fieldIndex("_wn"),
      staged.schema.fieldIndex("_wa"), staged.schema.fieldIndex("_wp"))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    staged.mapPartitions { rows =>
      rows.map { r =>
        require(!r.isNullAt(ni) && !r.isNullAt(ai) && !r.isNullAt(pi),
          "attachSyntheticWav: null samples/amp/period — filter null " +
            "inputs upstream (the gate mirrors the filter in its oracle)")
        Row.fromSeq(r.toSeq :+
          wavEncode(r.getInt(ni), r.getInt(ai), r.getInt(pi)))
      }
    }(enc).drop("_wn", "_wa", "_wp")
  }

  /** REAL pure-JVM audio decoder for the pluggable slot — PCM WAV via
    * `javax.sound.sampled` (ships with the JDK, works headless):
    * parses the actual RIFF stream and PCM frames, returns
    * (sampleRate, samples) with 16-bit samples decoded at the format's
    * declared endianness. Throws on an undecodable payload, like
    * [[bmpDecode]].
    */
  private[operators] def wavSamples(bytes: Array[Byte]): (Int, Array[Int]) = {
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val fmt = in.getFormat
      require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
        s"wavSamples: expected 16-bit mono PCM, got $fmt")
      val raw = in.readAllBytes()
      val bb = java.nio.ByteBuffer.wrap(raw).order(
        if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
        else java.nio.ByteOrder.LITTLE_ENDIAN)
      val out = new Array[Int](raw.length / 2)
      var i = 0
      while (i < out.length) { out(i) = bb.getShort(2 * i).toInt; i += 1 }
      (fmt.getSampleRate.toInt, out)
    } finally in.close()
  }

  /** `(sampleRate, nSamples, "wav")` header-level decode for the
    * [[decodePartitioned]]-style slot. */
  def wavDecode(bytes: Array[Byte]): (Int, Int, String) = {
    val (rate, samples) = wavSamples(bytes)
    (rate, samples.length, "wav")
  }

  /** REAL audio decode + sample statistics per partition: sample rate,
    * sample count, byte size, peak (max |s|), nonzero-sample count,
    * and exact total energy Σ s² off the DECODED samples (actual PCM
    * access, not header math) — the audio twin of [[decodeBmpStats]].
    * Narrow per-partition map, zero shuffle.
    */
  def decodeWavStats(df: DataFrame, binCol: String): DataFrame = {
    val schema = StructType(df.schema.fields ++ Seq(
      StructField("sample_rate", IntegerType, nullable = false),
      StructField("n_samples", LongType, nullable = false),
      StructField("n_bytes", LongType, nullable = false),
      StructField("format", StringType, nullable = false),
      StructField("peak", LongType, nullable = false),
      StructField("nz_samples", LongType, nullable = false),
      StructField("energy", LongType, nullable = false)))
    val binIdx = df.schema.fieldIndex(binCol)
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        val (rate, s) = wavSamples(bytes)
        var (peak, nz, energy) = (0L, 0L, 0L)
        var i = 0
        while (i < s.length) {
          val v = s(i).toLong
          val a = math.abs(v)
          if (a > peak) peak = a
          if (v != 0L) nz += 1
          energy += v * v
          i += 1
        }
        Row.fromSeq(r.toSeq ++ Seq(rate, s.length.toLong,
          bytes.length.toLong, "wav", peak, nz, energy))
      }
    }(enc)
  }

  /** Exact per-frame energies Σ s² of a decoded PCM signal chunked
    * into `frameLen`-sample frames (last frame partial) — the one
    * shared inner scan of [[audioFrameFeatures]] / [[audioSceneCuts]],
    * so a change to the chunking (overlap, windowing, sample width)
    * lands in both twins at once.
    */
  private def frameEnergies(s: Array[Int], frameLen: Int): Array[Long] = {
    val out = Array.ofDim[Long]((s.length + frameLen - 1) / frameLen)
    var f = 0
    var k = 0
    while (f < s.length) {
      val hi = math.min(f + frameLen, s.length)
      var e = 0L
      var i = f
      while (i < hi) { val v = s(i).toLong; e += v * v; i += 1 }
      out(k) = e
      k += 1
      f = hi
    }
    out
  }

  /** Per-frame REAL audio features → per-payload pool — the audio
    * counterpart of [[frameFeatures]] with the md5 "energy" stub
    * replaced by actual DSP over decoded samples: the payload's PCM is
    * chunked into `frameLen`-sample frames (last frame partial) and
    * each frame's exact energy Σ s² and peak are computed from the
    * decoded values, then pooled per payload (frame count, payload
    * peak, max and total frame energy).
    *
    * Scale shape: unlike the video stub (whose frames are byte SLICES
    * that must explode to rows for the signature hash), every audio
    * frame of one payload lives in that payload's blob — so featurize
    * + pool fuse into ONE narrow per-partition map, zero shuffle, and
    * the stage scales with total payload bytes exactly like
    * [[decodeBmpStats]]. The md5 stub stays [[frameFeatures]]'s
    * default; this is the proof the slot takes a genuine extractor.
    */
  def audioFrameFeatures(df: DataFrame, idCol: String, binCol: String,
      frameLen: Int): DataFrame = {
    require(frameLen >= 1,
      s"audioFrameFeatures: frameLen must be >= 1, got $frameLen")
    val schema = StructType(Array(df.schema(idCol)) ++ Seq(
      StructField("n_frames", LongType, nullable = false),
      StructField("peak", LongType, nullable = false),
      StructField("max_frame_energy", LongType, nullable = false),
      StructField("total_energy", LongType, nullable = false)))
    val (idIdx, binIdx) = (df.schema.fieldIndex(idCol),
      df.schema.fieldIndex(binCol))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val (_, s) = wavSamples(r.getAs[Array[Byte]](binIdx))
        var peak = 0L
        var i = 0
        while (i < s.length) {
          val a = math.abs(s(i).toLong)
          if (a > peak) peak = a
          i += 1
        }
        val energies = frameEnergies(s, frameLen)
        var (maxE, totE) = (0L, 0L)
        var k = 0
        while (k < energies.length) {
          if (energies(k) > maxE) maxE = energies(k)
          totE += energies(k)
          k += 1
        }
        Row(r.get(idIdx), energies.length.toLong, peak, maxE, totE)
      }
    }(enc)
  }

  /** Scene-cut segmentation over REAL audio frame energies — the audio
    * twin of [[sceneCuts]] with the md5 signature stub replaced by the
    * decoded frames' exact Σ s²: a cut fires between consecutive
    * frames whose energy gap exceeds `gapThreshold`; runs between cuts
    * are segments. Output matches [[sceneCuts]]: (id, n_frames,
    * n_cuts, n_segments, max_segment_len). Same fused zero-shuffle
    * shape as [[audioFrameFeatures]] (frames are blob-local, so the
    * lag + run-length ride the in-task scan instead of a window).
    */
  def audioSceneCuts(df: DataFrame, idCol: String, binCol: String,
      frameLen: Int, gapThreshold: Long = 0L): DataFrame = {
    require(frameLen >= 1,
      s"audioSceneCuts: frameLen must be >= 1, got $frameLen")
    val schema = StructType(Array(df.schema(idCol)) ++ Seq(
      StructField("n_frames", LongType, nullable = false),
      StructField("n_cuts", LongType, nullable = false),
      StructField("n_segments", LongType, nullable = false),
      StructField("max_segment_len", LongType, nullable = false)))
    val (idIdx, binIdx) = (df.schema.fieldIndex(idCol),
      df.schema.fieldIndex(binCol))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val (_, s) = wavSamples(r.getAs[Array[Byte]](binIdx))
        val energies = frameEnergies(s, frameLen)
        var (nCuts, runLen, maxRun) = (0L, 0L, 0L)
        var k = 0
        while (k < energies.length) {
          if (k > 0 && math.abs(energies(k) - energies(k - 1)) > gapThreshold) {
            nCuts += 1
            if (runLen > maxRun) maxRun = runLen
            runLen = 0L
          }
          runLen += 1
          if (runLen > maxRun) maxRun = runLen
          k += 1
        }
        // a zero-sample payload has zero segments, not one
        val nFrames = energies.length.toLong
        Row(r.get(idIdx), nFrames, nCuts,
          if (nFrames == 0L) 0L else nCuts + 1L, maxRun)
      }
    }(enc)
  }

  /** Frame-sampling shape for video-like payloads: explode `nFrames`
    * offsets per row, slicing the payload — the Spark-side plumbing of
    * a frame sampler (real pipelines replace `slice` with a seek+decode).
    */
  def sampleFrames(df: DataFrame, binCol: String, nFrames: Int): DataFrame = {
    val nBytes = length(col(binCol)).cast("long")
    val step = greatest(floor(nBytes / nFrames).cast("long"), lit(1L))
    df.withColumn("frame_idx", explode(sequence(lit(0), lit(nFrames - 1))))
      .withColumn("frame_offset", col("frame_idx").cast("long") * step)
      .withColumn(
        "frame_bytes",
        col(binCol).substr((col("frame_offset") + 1).cast("int"), lit(16)))
  }

  /** Per-frame FEATURIZE → per-payload AGGREGATE — the missing half of
    * the media pipeline shape ([[sampleFrames]] windows, this is the
    * "mel-spectrogram then pool" stage): each sampled frame gets a
    * deterministic md5-derived signature and pseudo-energy (the
    * feature-extractor slot — swap for a real DSP/vision call per
    * frame), then one hash-aggregate pools them per payload row:
    * frame count, DISTINCT-signature count (scene-change proxy), max
    * and exact total energy. Everything is codegen column arithmetic
    * over the exploded frame rows — the explode factor is `nFrames`,
    * so the shuffle is nFrames×|rows| NARROW rows and the aggregate
    * partial-combines map-side.
    */
  def frameFeatures(df: DataFrame, idCol: String, binCol: String,
      nFrames: Int): DataFrame = {
    val framed = sampleFrames(df, binCol, nFrames)
      .withColumn("_sig",
        conv(substring(md5(col("frame_bytes")), 1, 8), 16, 10).cast("long"))
    framed.groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_frames"),
        count_distinct(col("_sig")).as("n_distinct_frames"),
        max(col("_sig")).as("max_energy"),
        sum(col("_sig")).as("energy_sum"))
  }

  /** Scene-cut segmentation — the temporal half of the media shape
    * that [[frameFeatures]]'s pooled counts can't express: WHERE does
    * the content change? A cut fires between consecutive sampled
    * frames whose feature gap exceeds the threshold; runs between
    * cuts are scenes. Per payload: cut count, scene count, longest
    * scene — the shot-boundary summary a video-curation pipeline
    * filters on (static clips → 1 scene; slideshows → many). The
    * md5-derived frame signature is the detector stub slot (swap for
    * a real frame-difference/embedding gap per frame); the Spark-side
    * plumbing — frame explode, per-asset lag, run-length via
    * cumulative cut ids — is the real, tested part.
    *
    * Shape: the [[sampleFrames]] explode (nFrames× narrow rows), one
    * per-asset window bounded by nFrames, one bounded groupBy for run
    * lengths. Output: (id, n_frames, n_cuts, n_segments,
    * max_segment_len).
    */
  def sceneCuts(df: DataFrame, idCol: String, binCol: String,
      nFrames: Int, gapThreshold: Long = 1L << 31): DataFrame = {
    require(nFrames >= 1, s"sceneCuts: nFrames must be >= 1, got $nFrames")
    val framed = sampleFrames(df, binCol, nFrames)
      .withColumn("_sig",
        conv(substring(md5(col("frame_bytes")), 1, 8), 16, 10).cast("long"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("frame_idx"))
    val segmented = framed
      .withColumn("_prev", lag(col("_sig"), 1).over(w))
      .withColumn("_cut",
        when(col("_prev").isNotNull &&
          abs(col("_sig") - col("_prev")) > gapThreshold, 1L)
          .otherwise(0L))
      .withColumn("_seg", sum(col("_cut"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    segmented.groupBy(col(idCol), col("_seg"))
      .agg(count(lit(1)).as("_len"))
      .groupBy(col(idCol))
      .agg(sum(col("_len")).as("n_frames"),
        (count(lit(1)) - 1L).as("n_cuts"),
        count(lit(1)).as("n_segments"),
        max(col("_len")).as("max_segment_len"))
  }

  /** ViT-style patch grid: one row per `patch`×`patch` tile of each
    * image, with edge tiles CLIPPED to the image bounds (the
    * convention that keeps every pixel covered exactly once without
    * padding) — the coordinate plan a patch-embedding `mapInPandas`
    * stage consumes batch-for-batch. Pure `sequence`/`explode`
    * integer arithmetic: the explode factor is ⌈w/p⌉·⌈h/p⌉ per image
    * and rows stay narrow (id + 6 ints), so the stage scales with
    * total patch count, never image bytes (the binary column is NOT
    * carried — join it back per-batch at decode time).
    * Output: (id, px, py, x0, y0, pw, ph).
    */
  def patchGrid(df: DataFrame, idCol: String, widthCol: Column,
      heightCol: Column, patch: Int): DataFrame = {
    require(patch >= 1, s"patchGrid: patch must be >= 1, got $patch")
    val p = lit(patch.toLong)
    df.select(col(idCol), widthCol.cast("long").as("_w"),
        heightCol.cast("long").as("_h"))
      .where(col("_w") > 0 && col("_h") > 0)
      .withColumn("px",
        explode(sequence(lit(0L), expr(s"(_w - 1) div ${patch}L"))))
      .withColumn("py",
        explode(sequence(lit(0L), expr(s"(_h - 1) div ${patch}L"))))
      .select(col(idCol), col("px"), col("py"),
        (col("px") * p).as("x0"), (col("py") * p).as("y0"),
        least(p, col("_w") - col("px") * p).as("pw"),
        least(p, col("_h") - col("py") * p).as("ph"))
  }
}
