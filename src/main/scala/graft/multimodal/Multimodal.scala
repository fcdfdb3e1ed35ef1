package graft.multimodal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing (SURVEY.md / north-star: "multimodal
  * columns"): image/audio/video travel as opaque `binary` columns with a
  * typed metadata struct. All three decode kernels are REAL and
  * JDK-only: images via `javax.imageio` ([[decodeImages]] /
  * [[resizeImages]]), audio via `javax.sound.sampled`
  * ([[decodeAudio]]), video via a byte-exact MJPEG / RIFF-AVI demux +
  * imageio per-frame decode ([[sampleVideoFrames]]). The two remaining
  * stubs are labeled demo shapes: [[decodeImageStub]] (the
  * pure-`Column` codegen variant kept for plan-shape comparison) and
  * [[featurizeStub]] (a real featurizer needs an encoder model, out of
  * scope by design — the plumbing around it is the deliverable).
  *
  * Scale notes: payload bytes stay columnar end-to-end (no
  * driver collection); decode runs per-partition so a real codec would
  * amortize model/codec init once per partition, the same batching
  * argument as Arrow-batched UDFs. Metadata-only queries prune the
  * binary column at the parquet scan.
  */
object Multimodal {

  val mediaMetaType: StructType = StructType(Seq(
    StructField("kind", StringType),        // image | audio | video
    StructField("content_length", LongType),
    StructField("checksum", StringType)))

  /** Attach a deterministic fake payload to each document row: the
    * UTF-8 bytes of its text stand in for real media bytes. Gives every
    * downstream op a non-null `media` binary + typed `media_meta`. */
  def withFakeMedia(docs: DataFrame): DataFrame = {
    val kind = element_at(array(lit("image"), lit("audio"), lit("video")),
      (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
    docs
      .withColumn("media", encode(col("text"), "UTF-8"))
      .withColumn("media_meta", struct(
        kind.as("kind"),
        length(col("media")).cast("long").as("content_length"),
        sha2(col("media"), 256).as("checksum")))
  }

  /** STUB image decode — stands in for a real codec call. Derives fake
    * (width, height, channels) deterministically from the payload hash
    * so tests are stable. Pure `Column` expressions → stays inside
    * whole-stage codegen; a real decoder would swap this for a
    * per-partition kernel like [[decodePartitions]]. */
  def decodeImageStub(payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val h = abs(xxhash64(payload))
    struct(
      (pmod(h, lit(1920)) + 1).cast("int").as("width"),
      (pmod(h / 1920, lit(1080)) + 1).cast("int").as("height"),
      lit(3).as("channels"))
  }

  /** Partition-wise decode: the Scala analog of an Arrow-batched UDF.
    * One `init` per partition (where a real codec/model would load),
    * then a streaming pass over rows — the batch shape a 1000-executor
    * cluster needs. The kernel itself is a STUB (byte-sum "feature"). */
  def decodePartitions(df: DataFrame, payloadCol: String): DataFrame =
    appendDecoded(df, payloadCol,
      "feature_sum" -> LongType, "n_bytes" -> IntegerType) { bytes =>
      // STUB kernel: sum of bytes stands in for decode+featurize
      var s = 0L; var i = 0
      while (i < bytes.length) { s += bytes(i) & 0xff; i += 1 }
      Seq[Any](s, bytes.length)
    }

  /** The per-partition payload scaffold of the row-decode operators:
    * appends `fields` to `df`'s schema and, in one `mapPartitions`
    * pass, hands each row's `payloadCol` bytes to `kernel`, whose
    * values fill the new fields in order. A real codec would load
    * once per partition, above the row loop. */
  private def appendDecoded(df: DataFrame, payloadCol: String,
      fields: (String, DataType)*)(kernel: Array[Byte] => Seq[Any])
      : DataFrame = {
    val schema = fields.foldLeft(df.schema) { case (st, (n, t)) => st.add(n, t) }
    val idx = df.schema.fieldIndex(payloadCol)
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { rows =>
      rows.map { r =>
        org.apache.spark.sql.Row.fromSeq(
          r.toSeq ++ kernel(r.getAs[Array[Byte]](idx)))
      }
    }(enc)
  }

  /** REAL image decode via `javax.imageio` (ships in the JDK — no
    * external dependency): per-partition pass appending (img_width,
    * img_height, img_bands); payloads that are not a decodable image
    * (wrong kind, corrupt bytes) yield nulls instead of failing the
    * task. Same partition-batched shape as [[decodePartitions]] — a
    * heavier codec would hoist its init above the row loop. */
  def decodeImages(df: DataFrame, payloadCol: String): DataFrame =
    appendDecoded(df, payloadCol, "img_width" -> IntegerType,
      "img_height" -> IntegerType, "img_bands" -> IntegerType) { bytes =>
      try {
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes))
        if (img == null) Seq(null, null, null)
        else Seq(img.getWidth, img.getHeight, img.getRaster.getNumBands)
      } catch { case _: Exception => Seq(null, null, null) }
    }

  /** REAL image resize via the JDK (`java.awt` bilinear draw +
    * `javax.imageio` re-encode): appends `resized` (PNG bytes at
    * `w`×`h`) — null when the payload is not a decodable image. Same
    * partition-batched shape as [[decodeImages]]; the Graphics2D
    * objects are per-row but cheap, a heavier codec would pool them
    * per partition. */
  def resizeImages(df: DataFrame, payloadCol: String, w: Int, h: Int): DataFrame =
    appendDecoded(df, payloadCol, "resized" -> BinaryType) { bytes =>
      val out: Any =
        try {
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bytes))
          if (img == null) null
          else {
            val scaled = new java.awt.image.BufferedImage(w, h,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = scaled.createGraphics()
            g.setRenderingHint(
              java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, w, h, null)
            g.dispose()
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(scaled, "png", bos)
            bos.toByteArray
          }
        } catch { case _: Exception => null }
      Seq(out)
    }

  /** REAL perceptual difference hash (dHash): decode → 9×8 grayscale
    * bilinear downscale → 64 horizontal-gradient bits packed into one
    * int64. Near-duplicate images (re-encodes, mild resizes, small
    * edits) land within a few Hamming bits of each other, so image
    * near-dup detection becomes the q61 SimHash shape: band the 64
    * bits, equi-join on band keys, verify candidates with
    * `bit_count(h1 ^ h2) <= τ` — never a pairwise scan of the corpus.
    * Appends `dhash` (LongType, null for non-decodable payloads).
    * (Public technique: the dHash of Krawetz's "Kind of Like That",
    * the standard cheap perceptual fingerprint.) */
  def dHashImages(df: DataFrame, payloadCol: String): DataFrame =
    appendDecoded(df, payloadCol, "dhash" -> LongType) { bytes =>
      val out: Any =
        try {
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bytes))
          if (img == null) null
          else {
            val scaled = new java.awt.image.BufferedImage(9, 8,
              java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
            val g = scaled.createGraphics()
            g.setRenderingHint(
              java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, 9, 8, null)
            g.dispose()
            val raster = scaled.getRaster
            var bits = 0L
            var y = 0
            while (y < 8) {
              var x = 0
              while (x < 8) {
                val bit =
                  if (raster.getSample(x, y, 0) <
                      raster.getSample(x + 1, y, 0)) 1L else 0L
                bits = (bits << 1) | bit
                x += 1
              }
              y += 1
            }
            bits
          }
        } catch { case _: Exception => null }
      Seq(out)
    }

  /** REAL per-channel feature extraction for images: appends mean R/G/B
    * in [0, 255] (`rgb_mean` array<double>), null for non-images — an
    * actual image statistic, not a stub, via one pixel pass. */
  def imageRgbStats(df: DataFrame, payloadCol: String): DataFrame =
    appendDecoded(df, payloadCol, "rgb_mean" -> ArrayType(DoubleType)) { bytes =>
      val out: Any =
        try {
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bytes))
          if (img == null) null
          else {
            var sr = 0L; var sg = 0L; var sb = 0L
            var y = 0
            while (y < img.getHeight) {
              var x = 0
              while (x < img.getWidth) {
                val p = img.getRGB(x, y)
                sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
                x += 1
              }
              y += 1
            }
            val n = img.getWidth.toLong * img.getHeight
            Seq(sr.toDouble / n, sg.toDouble / n, sb.toDouble / n)
          }
        } catch { case _: Exception => null }
      Seq(out)
    }

  /** REAL audio decode via `javax.sound.sampled` (ships in the JDK — no
    * external dependency; PCM WAV/AIFF/AU containers): per-partition
    * pass appending (sample_rate, audio_channels, n_frames,
    * duration_sec, rms). `rms` is a real signal statistic (root mean
    * square of the 16-bit PCM samples, normalized to [0, 1]) — the
    * "silence / clipped / level" screen an audio curation pipeline runs
    * first. Payloads that are not decodable audio yield nulls instead
    * of failing the task; compressed codecs (mp3/ogg) have no JDK SPI
    * in this environment and so also surface as nulls, by design. */
  def decodeAudio(df: DataFrame, payloadCol: String): DataFrame =
    appendDecoded(df, payloadCol,
      "sample_rate" -> IntegerType, "audio_channels" -> IntegerType,
      "n_frames" -> LongType, "duration_sec" -> DoubleType,
      "rms" -> DoubleType) { bytes =>
      try {
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        val fmt = ais.getFormat
        val data = ais.readAllBytes()
        ais.close()
        val frameSize = fmt.getFrameSize
        val nFrames =
          if (frameSize > 0) data.length.toLong / frameSize else 0L
        val dur =
          if (fmt.getFrameRate > 0) nFrames / fmt.getFrameRate.toDouble
          else null
        // RMS only for the dominant on-disk layout (16-bit signed
        // PCM); other widths keep metadata but report null level
        val rms: Any =
          if (fmt.getSampleSizeInBits == 16 && data.length >= 2) {
            val big = fmt.isBigEndian
            var sum = 0.0; var i = 0
            while (i + 1 < data.length) {
              val s =
                if (big) ((data(i) << 8) | (data(i + 1) & 0xff)).toShort
                else ((data(i + 1) << 8) | (data(i) & 0xff)).toShort
              val x = s / 32768.0
              sum += x * x
              i += 2
            }
            math.sqrt(sum / (data.length / 2))
          } else null
        Seq(fmt.getSampleRate.toInt, fmt.getChannels, nFrames, dur, rms)
      } catch { case _: Exception => Seq(null, null, null, null, null) }
    }

  /** Little-endian u32 at offset `i` (RIFF/AVI sizes). */
  private def u32le(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
      ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)

  /** REAL video demux, no codec library needed — two layouts a JVM can
    * parse byte-exactly:
    *
    *  - bare MJPEG stream: concatenated baseline JPEGs. In baseline
    *    entropy-coded data every 0xFF byte is stuffed as FF 00 (ITU
    *    T.81 §B.1.1.5), so scanning SOI (FFD8) → EOI (FFD9) finds true
    *    frame boundaries (restart markers FFD0–D7 never match D9).
    *  - MJPEG-in-AVI: RIFF chunk walk ("RIFF"<size>"AVI " then
    *    fourcc/size chunks, LISTs recursed, chunks padded to even) —
    *    every video-stream chunk ('##dc' compressed / '##db'
    *    uncompressed) payload is one frame. The 'idx1' index and
    *    'hdrl' headers are plain chunks, never recursed into, so their
    *    interior bytes can't fake a frame.
    *
    * Frames then decode with `javax.imageio` (JPEG ships in the JDK). */
  private[graft] def demuxVideoFrames(bytes: Array[Byte]): Vector[Array[Byte]] =
    if (bytes.length >= 12 &&
        bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F' &&
        bytes(8) == 'A' && bytes(9) == 'V' && bytes(10) == 'I' && bytes(11) == ' ')
      demuxAvi(bytes)
    else demuxMjpeg(bytes)

  private def demuxAvi(bytes: Array[Byte]): Vector[Array[Byte]] = {
    val out = Vector.newBuilder[Array[Byte]]
    def walk(start: Int, end: Int): Unit = {
      var i = start
      while (i + 8 <= end) {
        val sz = u32le(bytes, i + 4).toInt
        val dataStart = i + 8
        val dataEnd = math.min(dataStart.toLong + sz, end.toLong).toInt
        val isList = bytes(i) == 'L' && bytes(i + 1) == 'I' &&
          bytes(i + 2) == 'S' && bytes(i + 3) == 'T'
        if (isList && sz >= 4) {
          walk(dataStart + 4, dataEnd) // first 4 bytes = list type fourcc
        } else if (!isList && sz > 0 && dataEnd > dataStart &&
            ((bytes(i + 2) == 'd' && (bytes(i + 3) == 'c' || bytes(i + 3) == 'b')))) {
          out += java.util.Arrays.copyOfRange(bytes, dataStart, dataEnd)
        }
        i = dataStart + sz + (sz & 1) // chunks pad to even length
      }
    }
    walk(12, bytes.length)
    out.result()
  }

  private def demuxMjpeg(bytes: Array[Byte]): Vector[Array[Byte]] = {
    val out = Vector.newBuilder[Array[Byte]]
    val n = bytes.length
    var i = 0
    while (i + 1 < n) {
      if (bytes(i) == 0xFF.toByte && bytes(i + 1) == 0xD8.toByte) {
        var j = i + 2
        var end = -1
        while (end < 0 && j + 1 < n) {
          if (bytes(j) == 0xFF.toByte && bytes(j + 1) == 0xD9.toByte) end = j + 2
          j += 1
        }
        if (end > 0) {
          out += java.util.Arrays.copyOfRange(bytes, i, end)
          i = end
        } else i = n // truncated trailing frame: drop, don't loop
      } else i += 1
    }
    out.result()
  }

  /** REAL frame sampling for video payloads (the former stub, deleted):
    * demuxes [[demuxVideoFrames]] containers, decodes every `stride`-th
    * frame with `javax.imageio`, and emits one row per sampled frame —
    * the UDTF shape — carrying `n_frames` (total in the container),
    * `frame_no`, `frame_w`/`frame_h`, and `frame_luma` (mean Rec.601
    * luma over all pixels, 4dp). A payload that demuxes to zero frames
    * (non-video, junk) emits a single row with n_frames = 0 and null
    * frame fields, so rows are never silently dropped; a frame that
    * demuxes but fails to decode keeps its row with null dimensions.
    * Same per-partition batch shape as [[decodeImages]]. */
  def sampleVideoFrames(df: DataFrame, payloadCol: String,
      stride: Int = 1): DataFrame = {
    require(stride >= 1, s"stride >= 1, got $stride")
    val schema = df.schema
      .add("n_frames", IntegerType).add("frame_no", IntegerType)
      .add("frame_w", IntegerType).add("frame_h", IntegerType)
      .add("frame_luma", DoubleType)
    val idx = df.schema.fieldIndex(payloadCol)
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](idx)
        val frames =
          if (bytes == null) Vector.empty
          else try demuxVideoFrames(bytes)
          catch { case _: Exception => Vector.empty[Array[Byte]] }
        if (frames.isEmpty)
          Iterator.single(org.apache.spark.sql.Row.fromSeq(
            r.toSeq ++ Seq(0, null, null, null, null)))
        else {
          val n = frames.length
          Iterator.range(0, n, stride).map { fi =>
            val dec: Seq[Any] =
              try {
                val img = javax.imageio.ImageIO.read(
                  new java.io.ByteArrayInputStream(frames(fi)))
                if (img == null) Seq(null, null, null)
                else {
                  val w = img.getWidth
                  val h = img.getHeight
                  var sum = 0.0
                  var y = 0
                  while (y < h) {
                    var x = 0
                    while (x < w) {
                      val p = img.getRGB(x, y)
                      sum += 0.299 * ((p >> 16) & 0xff) +
                        0.587 * ((p >> 8) & 0xff) + 0.114 * (p & 0xff)
                      x += 1
                    }
                    y += 1
                  }
                  // Seq[Any] with explicit boxes — a bare Seq(w, h, d)
                  // numeric-widens the Ints to Double and breaks the
                  // row encoder's INT slots
                  Seq[Any](Int.box(w), Int.box(h), Double.box(
                    math.rint(sum / (w.toLong * h.toLong) * 10000) / 10000))
                }
              } catch { case _: Exception => Seq(null, null, null) }
            org.apache.spark.sql.Row.fromSeq(r.toSeq ++ (Seq(n, fi) ++ dec))
          }
        }
      }
    }(enc)
  }

  /** Scalar demux census of a video payload — the oracle-gateable
    * readout of [[demuxVideoFrames]] (q402): per row, the container's
    * demuxed frame count, total demuxed payload bytes, and the
    * unsigned byte sum over every demuxed payload byte. One row in,
    * one row out; a null or frameless payload reports zeros (rows are
    * never dropped, the [[sampleVideoFrames]] contract). mapPartitions
    * is justified exactly as there — a byte-walk no Expression can
    * host; everything around it stays columnar. */
  def demuxCensus(df: DataFrame, payloadCol: String): DataFrame =
    appendDecoded(df, payloadCol, "n_frames" -> IntegerType,
      "payload_bytes" -> LongType, "byte_checksum" -> LongType) { bytes =>
      val frames =
        if (bytes == null) Vector.empty
        else try demuxVideoFrames(bytes)
        catch { case _: Exception => Vector.empty[Array[Byte]] }
      var (pb, cs) = (0L, 0L)
      frames.foreach { f =>
        pb += f.length
        var k = 0
        while (k < f.length) { cs += f(k) & 0xffL; k += 1 }
      }
      Seq(Int.box(frames.length), Long.box(pb), Long.box(cs))
    }

  /** STUB featurize: payload → fixed-dim fake embedding (hash-seeded),
    * the shape an encoder model would produce. */
  def featurizeStub(df: DataFrame, dim: Int): DataFrame =
    df.withColumn("media_vec",
      transform(sequence(lit(0), lit(dim - 1)),
        i => pmod(xxhash64(col("media"), i), lit(1000)).cast("float") / 1000f))
}
