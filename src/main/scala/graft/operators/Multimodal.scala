package graft.operators

import java.awt.RenderingHints
import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing (charter requirement).
  *
  * Media payloads are opaque `binary` columns with a typed metadata struct.
  * Image decode and resize are REAL: `javax.imageio.ImageIO` (PNG/JPEG/BMP/
  * GIF ship in the JDK — no external codec, offline-safe) and an
  * aspect-preserving `Graphics2D` resample. Generic byte-level feature
  * extraction ([[byteStats]]) covers payloads with no installed codec
  * (audio/video in this container) so every media row flows through the
  * same harness regardless of type.
  *
  * Scale design: decode runs inside `mapPartitions` (per-partition, no
  * shuffle, codec state reused across a partition's rows); feature columns
  * come back as typed structs so downstream ops stay columnar. Payload
  * bytes never enter a shuffle unless the caller asks for the re-encoded
  * image itself.
  */
object Multimodal {

  // ImageIO's stream cache defaults to DISK-backed: every read/write through
  // an Input/OutputStream wraps it in a FileCache stream that spills the
  // payload to a temp file first — one file create+write+delete per image.
  // The media lanes decode thousands of sub-KB PNGs per run, so the codec
  // path was fs-bound before it was CPU-bound. Memory-cached streams decode
  // and encode byte-identically; only the staging medium changes. Runs in
  // the object initializer so every JVM that touches a codec op (driver or
  // executor — the mapPartitions closures reference this object) flips it
  // before the first decode.
  ImageIO.setUseCache(false)

  /** Metadata carried next to every media payload. Struct field order is
    * the contract [[resizeImages]] relies on when rewriting metadata.
    */
  val metaSchema: StructType = StructType(Seq(
    StructField("media_type", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_bytes", LongType)))

  val featureSchema: StructType = StructType(Seq(
    StructField("n_bytes", LongType),
    StructField("head_hex", StringType),
    StructField("byte_mean", DoubleType)))

  /** Decoded-image feature struct: dimensions, band count, per-channel
    * means. Null when the payload is not a decodable image.
    */
  val imageSchema: StructType = StructType(Seq(
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_channels", IntegerType),
    StructField("mean_r", DoubleType),
    StructField("mean_g", DoubleType),
    StructField("mean_b", DoubleType)))

  /** Wraps a text table into the multimodal shape: payload = UTF-8 bytes,
    * metadata derived from the payload. Stands in for reading real media
    * files (`spark.read.format("binaryFile")` at production time).
    */
  def asMedia(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).as("media_id"),
      col(textCol).cast("binary").as("payload"),
      struct(
        lit("text/plain").as("media_type"),
        lit(null).cast("int").as("width"),
        lit(null).cast("int").as("height"),
        length(col(textCol).cast("binary")).cast("long").as("n_bytes")).as("meta"))

  /** Codec-free feature extraction for OPAQUE payloads (no image/audio
    * library applies): byte length, first-8-bytes hex (magic-number
    * fingerprint), mean byte value. Runs for any media type — the fallback
    * lane of the decode harness, not a stand-in for it.
    */
  def byteStats(payload: Array[Byte]): (Long, String, Double) = {
    // null = absent media: same stats as an empty payload (the decode
    // family's degrade-don't-throw contract, see dHash64/audioSig64)
    val p = if (payload == null) Array.emptyByteArray else payload
    val head = p.take(8).map(b => f"${b & 0xff}%02x").mkString
    val mean = if (p.isEmpty) 0.0 else p.map(b => (b & 0xff).toLong).sum.toDouble / p.length
    (p.length.toLong, head, mean)
  }

  /** Partition-parallel byte-level decode: binary payload → feature struct. */
  def decodeFeatures(media: DataFrame): DataFrame = {
    val outSchema = StructType(media.schema.fields :+ StructField("features", featureSchema))
    val enc = RowEncoder.encoderFor(outSchema)
    val payloadIdx = media.schema.fieldIndex("payload")
    media.mapPartitions { rows =>
      rows.map { r =>
        val payload = r.getAs[Array[Byte]](payloadIdx)
        val (n, hex, mean) = byteStats(payload)
        Row.fromSeq(r.toSeq :+ Row(n, hex, mean))
      }
    }(enc)
  }

  // ---------- real image codec lane (JDK ImageIO, no external deps) ----------

  /** Encode a solid-color RGB PNG — the deterministic image generator for
    * specs and the m2 oracle query (a solid color survives any resample
    * exactly, so channel means are oracle-expressible arithmetic).
    */
  def encodePng(width: Int, height: Int, r: Int, g: Int, b: Int): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dims ${width}x$height")
    val img = new BufferedImage(width, height, BufferedImage.TYPE_INT_RGB)
    val gfx = img.createGraphics()
    try { gfx.setColor(new java.awt.Color(r, g, b)); gfx.fillRect(0, 0, width, height) }
    finally gfx.dispose()
    writePng(img)
  }

  private def writePng(img: BufferedImage): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private def readImage(payload: Array[Byte]): Option[BufferedImage] =
    if (payload == null || payload.isEmpty) None
    else Option(ImageIO.read(new ByteArrayInputStream(payload)))

  /** Real decode: payload → (width, height, bands, per-channel means).
    * None when ImageIO has no codec for the bytes (garbage, or a format the
    * JDK doesn't ship). Channel sums accumulate in Long (exact), the single
    * final division is the only float op — bit-stable across JVMs.
    */
  def decodeImage(payload: Array[Byte]): Option[(Int, Int, Int, Double, Double, Double)] =
    readImage(payload).map { img =>
      val w = img.getWidth
      val h = img.getHeight
      var sr = 0L; var sg = 0L; var sb = 0L
      // bulk row reads: BufferedImage.getRGB(x,y,w,h,...) applies the SAME
      // per-pixel ColorModel→sRGB conversion as the scalar getRGB, so sums
      // are bit-identical — it just amortizes the raster/bounds bookkeeping
      // over a scanline instead of paying it per pixel (a row buffer, not a
      // whole-image buffer, so memory stays O(width) for any image size)
      val rowBuf = new Array[Int](w)
      var y = 0
      while (y < h) {
        img.getRGB(0, y, w, 1, rowBuf, 0, w)
        var x = 0
        while (x < w) {
          val rgb = rowBuf(x)
          sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
          x += 1
        }
        y += 1
      }
      val n = w.toLong * h
      (w, h, img.getRaster.getNumBands, sr.toDouble / n, sg.toDouble / n, sb.toDouble / n)
    }

  /** Partition-parallel image decode: adds an `img` struct ([[imageSchema]]),
    * null for undecodable payloads (the caller decides whether that is a
    * filter or an error).
    */
  def decodeImages(media: DataFrame): DataFrame = {
    val outSchema = StructType(media.schema.fields :+ StructField("img", imageSchema))
    val enc = RowEncoder.encoderFor(outSchema)
    val payloadIdx = media.schema.fieldIndex("payload")
    media.mapPartitions { rows =>
      rows.map { r =>
        val img = decodeImage(r.getAs[Array[Byte]](payloadIdx)) match {
          case Some((w, h, c, mr, mg, mb)) => Row(w, h, c, mr, mg, mb)
          case None => null
        }
        Row.fromSeq(r.toSeq :+ img)
      }
    }(enc)
  }

  /** Aspect-preserving fit of (w, h) inside maxDim, never upscaling —
    * integer floor math, shared verbatim by the resize and the m2 oracle.
    */
  def fitDims(w: Int, h: Int, maxDim: Int): (Int, Int) = {
    val m = math.max(w, h)
    if (m <= maxDim) (w, h)
    else (math.max(w * maxDim / m, 1), math.max(h * maxDim / m, 1))
  }

  /** Real image resize in the partition-parallel harness: decode via
    * ImageIO, aspect-preserving fit inside `maxDim` (never upscale),
    * bilinear `Graphics2D` resample, re-encode PNG, metadata rewritten to
    * the output dims. Non-image media and undecodable payloads pass
    * through untouched with `resized = false` — the codec lane and the
    * opaque lane share one operator, so a mixed media table needs no
    * branching upstream.
    */
  def resizeImages(media: DataFrame, maxDim: Int): DataFrame = {
    require(maxDim > 0, "maxDim must be positive")
    val outSchema = StructType(media.schema.fields :+ StructField("resized", BooleanType))
    val enc = RowEncoder.encoderFor(outSchema)
    val payloadIdx = media.schema.fieldIndex("payload")
    val metaIdx = media.schema.fieldIndex("meta")
    media.mapPartitions { rows =>
      rows.map { r =>
        val meta = r.getAs[Row](metaIdx)
        val mediaType = if (meta == null) null else meta.getString(0)
        val decoded =
          if (mediaType != null && mediaType.startsWith("image/"))
            readImage(r.getAs[Array[Byte]](payloadIdx))
          else None
        decoded match {
          case Some(img) =>
            val (ow, oh) = fitDims(img.getWidth, img.getHeight, maxDim)
            if (ow == img.getWidth && oh == img.getHeight)
              Row.fromSeq(r.toSeq :+ false)
            else {
              val out = new BufferedImage(ow, oh, BufferedImage.TYPE_INT_RGB)
              val gfx = out.createGraphics()
              try {
                gfx.setRenderingHint(RenderingHints.KEY_INTERPOLATION,
                  RenderingHints.VALUE_INTERPOLATION_BILINEAR)
                gfx.drawImage(img, 0, 0, ow, oh, null)
              } finally gfx.dispose()
              val bytes = writePng(out)
              val newMeta = Row(mediaType, ow, oh, bytes.length.toLong)
              Row.fromSeq(r.toSeq.updated(payloadIdx, bytes).updated(metaIdx, newMeta) :+ true)
            }
          case None => Row.fromSeq(r.toSeq :+ false)
        }
      }
    }(enc)
  }

  /** Deterministic synthetic image table: one solid-color PNG per id, dims
    * and color pure arithmetic in the id — so a DuckDB oracle can state the
    * EXPECTED decode/resize output in closed form (query m2). Generation
    * happens executor-side in mapPartitions: nothing but ids leaves the
    * driver, payloads are born distributed.
    */
  def syntheticImages(df: DataFrame, idCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("payload", BinaryType),
      StructField("meta", metaSchema)))
    val enc = RowEncoder.encoderFor(outSchema)
    val idIdx = df.schema.fieldIndex(idCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        val w = (16 + id % 17).toInt
        val h = (16 + id % 23).toInt
        val png = encodePng(w, h,
          (id % 256).toInt, ((id * 7) % 256).toInt, ((id * 13) % 256).toInt)
        Row(id, png, Row("image/png", w, h, png.length.toLong))
      }
    }(enc)
  }

  // ---------- perceptual hash lane (image near-dup, the m4 bridge) ----------

  /** Grayscale value of synthetic-grid block (bx, by) for a given id —
    * the first md5 byte of "seed:bx:by" (the d3c md5-nibble discipline, so
    * the oracle reproduces it with string functions), bumped for the
    * group's perturbed members. Ids in the same group of four (id div 4)
    * share a base pattern; the group's r-th member (r = id mod 4) bumps the
    * first r blocks of row 0, perturbing at most r of the 64 dHash
    * comparisons — so every group yields near-dup pairs at controlled
    * Hamming distances. md5 (not any arithmetic mod a small prime) keeps
    * distinct groups ~32 bits apart with NO period: a linear pattern
    * repeats every |modulus| groups, which made cross-group pair volume
    * quadratic in the corpus before this formula.
    */
  /** First md5 byte of `key` as 0..255 — the ONE keyed-value primitive all
    * three synthetic-media generators ([[gridValue]], [[toneValue]],
    * [[sceneValue]]) derive from, and exactly what each oracle's
    * `substr(md5(...), 1, 2)` hex arithmetic restates.
    */
  private def md5Byte0(key: String): Int =
    java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8"))(0) & 0xff

  def gridValue(id: Long, bx: Int, by: Int): Int = {
    val v = md5Byte0(s"${id / 4}:$bx:$by")
    if (id % 4 > 0 && by == 0 && bx < id % 4) (v + 97) % 256 else v
  }

  /** Deterministic synthetic image table for the perceptual-hash lane: one
    * PNG per id, 9x8 blocks of `blockPx` x `blockPx` solid-gray pixels with
    * block value [[gridValue]] — block-constant gray means the dHash grid
    * recovers each value EXACTLY (any luma weighting of r=g=b=v is v, and
    * the block mean of a constant is the constant), so a DuckDB oracle can
    * state every signature bit in closed form. Generation is executor-side:
    * only ids leave the driver.
    */
  def syntheticGridImages(df: DataFrame, idCol: String, blockPx: Int = 3): DataFrame = {
    require(blockPx > 0, "blockPx must be positive")
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("payload", BinaryType),
      StructField("meta", metaSchema)))
    val enc = RowEncoder.encoderFor(outSchema)
    val idIdx = df.schema.fieldIndex(idCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        val w = 9 * blockPx
        val h = 8 * blockPx
        val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
        var by = 0
        while (by < 8) {
          var bx = 0
          while (bx < 9) {
            val v = gridValue(id, bx, by)
            val rgb = (v << 16) | (v << 8) | v
            var y = by * blockPx
            while (y < (by + 1) * blockPx) {
              var x = bx * blockPx
              while (x < (bx + 1) * blockPx) { img.setRGB(x, y, rgb); x += 1 }
              y += 1
            }
            bx += 1
          }
          by += 1
        }
        val png = writePng(img)
        Row(id, png, Row("image/png", w, h, png.length.toLong))
      }
    }(enc)
  }

  /** 64-bit difference hash (dHash) of an image: decode, reduce to a 9x8
    * grayscale grid by EXACT integer block means (per-pixel integer luma
    * (299r + 587g + 114b)/1000 summed in Long, one integer division per
    * block — no float resampling, so the signature is bit-stable across
    * JVMs), then bit (by*8 + bx) = grid(bx, by) > grid(bx+1, by). Gradient
    * structure survives brightness shifts and re-encoding, which is why
    * dHash is the standard cheap image near-dup fingerprint. None for
    * undecodable payloads or images smaller than the grid.
    */
  def dHash64(payload: Array[Byte]): Option[Long] =
    readImage(payload).flatMap { img =>
      val w = img.getWidth
      val h = img.getHeight
      if (w < 9 || h < 8) None
      else {
        val means = Array.ofDim[Long](8, 9)
        // bulk scanline-segment reads (same conversion as scalar getRGB —
        // see decodeImage): one raster call per (block, scanline) instead
        // of one per pixel; the shared row buffer bounds memory at O(width)
        val rowBuf = new Array[Int](w)
        var by = 0
        while (by < 8) {
          var bx = 0
          while (bx < 9) {
            val x0 = bx * w / 9; val x1 = (bx + 1) * w / 9
            val y0 = by * h / 8; val y1 = (by + 1) * h / 8
            val seg = x1 - x0
            var sum = 0L
            var y = y0
            while (y < y1) {
              img.getRGB(x0, y, seg, 1, rowBuf, 0, seg)
              var i = 0
              while (i < seg) {
                val rgb = rowBuf(i)
                sum += (299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff)
                  + 114L * (rgb & 0xff)) / 1000L
                i += 1
              }
              y += 1
            }
            means(by)(bx) = sum / (seg.toLong * (y1 - y0))
            bx += 1
          }
          by += 1
        }
        var sig = 0L
        var k = 0
        while (k < 64) {
          if (means(k / 8)(k % 8) > means(k / 8)(k % 8 + 1)) sig |= (1L << k)
          k += 1
        }
        Some(sig)
      }
    }

  /** Partition-parallel perceptual hashing: media table → (media_id, dhash),
    * undecodable/undersized payloads dropped (they have no gradient
    * structure to fingerprint). One row per image — the signature frame
    * feeds [[Dedup.simhashPairsFromSigs]] banding unchanged, which is the
    * whole point: image near-dup reuses the text pipeline's pair machinery
    * above the signature layer.
    */
  def dHashSigs(media: DataFrame): DataFrame =
    sigFrame(media, "dhash")(dHash64(_))

  /** Shared signature-frame scaffolding for the near-dup bridge lanes
    * (image dHash, audio energy-delta, any future modality): media table →
    * (media_id, <sigCol>), rows whose payload yields no signature (null,
    * undecodable, undersized) dropped — ONE definition of the drop
    * semantics and output shape, so the modality lanes cannot diverge.
    */
  private def sigFrame(media: DataFrame, sigCol: String)
                      (sig: Array[Byte] => Option[Long]): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType), StructField(sigCol, LongType)))
    val enc = RowEncoder.encoderFor(outSchema)
    val payloadIdx = media.schema.fieldIndex("payload")
    val idIdx = media.schema.fieldIndex("media_id")
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        Option(r.getAs[Array[Byte]](payloadIdx)).flatMap(sig)
          .map(s => Row(r.getLong(idIdx), s))
      }
    }(enc)
  }

  /** Frame sampling: emits every `stride`-th fixed-size window of the
    * payload as a "frame" (what a video decoder's keyframe sampler would
    * produce), preserving the row-multiplying generator shape.
    */
  def sampleFrames(media: DataFrame, frameBytes: Int, stride: Int): DataFrame =
    media.select(col("media_id"), col("payload"))
      .withColumn("frame_idx",
        explode(sequence(lit(0), greatest((length(col("payload")) / (frameBytes * stride)).cast("int") - 1, lit(0)))))
      .withColumn("frame",
        expr(s"substring(payload, frame_idx * $frameBytes * $stride + 1, $frameBytes)"))

  /** Overlapped chunking (the audio feature-extraction shape): windows of
    * `chunkBytes` starting every `hopBytes` (hop < chunk ⇒ overlap), the
    * final window truncated at the payload end. One generator expression —
    * chunk count per row is ceil(n_bytes / hop) with no shuffle; a real
    * spectrogram/embedding step would map over `chunk` downstream.
    */
  def chunkPayload(media: DataFrame, chunkBytes: Int, hopBytes: Int): DataFrame = {
    require(chunkBytes > 0 && hopBytes > 0, "chunkBytes and hopBytes must be positive")
    media.select(col("media_id"), col("payload"))
      .withColumn("n_bytes", length(col("payload")).cast("long"))
      .filter(col("n_bytes") > 0)
      .withColumn("chunk_idx",
        explode(sequence(lit(0L), ceil(col("n_bytes").cast("double") / hopBytes).cast("long") - 1)))
      .withColumn("chunk",
        expr(s"substring(payload, chunk_idx * $hopBytes + 1, $chunkBytes)"))
      .withColumn("chunk_bytes", length(col("chunk")).cast("long"))
      .select("media_id", "chunk_idx", "chunk", "chunk_bytes")
  }

  // ---------- audio (PCM) lane: real byte decode, exact-integer features ----------

  /** Sample i of the synthetic id-keyed waveform: a full-swing pseudo-noise
    * signed 16-bit value, pure arithmetic in (id, i) so a DuckDB oracle can
    * regenerate every sample in closed form (the m2/m4 discipline applied
    * to audio). floorMod keeps the lattice identical to SQL `%` on the
    * non-negative operands the generator feeds it.
    */
  def pcmSample(id: Long, i: Int): Int =
    Math.floorMod(id * 31L + i.toLong * 7919L, 65536L).toInt - 32768

  /** Deterministic synthetic PCM table: one mono s16le clip per id,
    * `800 + id % 257` samples of [[pcmSample]] noise, serialized as real
    * little-endian bytes — so the decode lane exercises genuine binary
    * parsing, not a pre-decoded array. Executor-side generation: only ids
    * leave the driver, payloads are born distributed.
    */
  def syntheticPcm(df: DataFrame, idCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("payload", BinaryType),
      StructField("meta", metaSchema)))
    val enc = RowEncoder.encoderFor(outSchema)
    val idIdx = df.schema.fieldIndex(idCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        val n = (800 + id % 257).toInt
        val bytes = new Array[Byte](n * 2)
        var i = 0
        while (i < n) {
          val v = pcmSample(id, i)
          bytes(2 * i) = (v & 0xff).toByte
          bytes(2 * i + 1) = ((v >> 8) & 0xff).toByte
          i += 1
        }
        Row(id, bytes, Row("audio/pcm-s16le", null, null, bytes.length.toLong))
      }
    }(enc)
  }

  /** Per-clip audio feature struct — every field an EXACT integer (energy
    * as sum of squares, not float RMS) so the lane hash-compares across
    * engines with zero float tolerance.
    */
  val audioSchema: StructType = StructType(Seq(
    StructField("n_samples", LongType),
    StructField("n_frames", LongType),
    StructField("sum_sq", LongType),
    StructField("n_zero_cross", LongType),
    StructField("max_frame_ssq", LongType)))

  /** Partition-parallel PCM decode + frame-level feature extraction: parse
    * the s16le byte stream, then per clip report sample count, total energy
    * (Σ v², exact in Long: 2^30 per sample, petabyte-scale clips before
    * overflow), zero-crossing count (sign flips between consecutive
    * samples), and over non-overlapping `frameLen`-sample frames (trailing
    * partial frame excluded) the frame count and the loudest frame's
    * energy. The decode is the genuine article — byte order, width, and
    * truncation bugs all surface here — while staying codec-free (raw PCM
    * needs no library, so the lane runs offline; a real compressed-audio
    * decoder would replace ONLY the `toShort` loop). mapPartitions for the
    * same reason as [[decodeImages]]: per-row byte work with no shuffle,
    * payloads never leave their partition.
    */
  def decodePcmFeatures(media: DataFrame, frameLen: Int = 160): DataFrame = {
    require(frameLen > 0, s"frameLen must be positive, got $frameLen")
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("audio", audioSchema)))
    val enc = RowEncoder.encoderFor(outSchema)
    val payloadIdx = media.schema.fieldIndex("payload")
    val idIdx = media.schema.fieldIndex("media_id")
    media.mapPartitions { rows =>
      rows.map { r =>
        // null payload = zero-sample clip (degrade, don't throw)
        val bytes = Option(r.getAs[Array[Byte]](payloadIdx))
          .getOrElse(Array.emptyByteArray)
        val n = bytes.length / 2
        var sumSq = 0L
        var zc = 0L
        var maxFrame = 0L
        var frameSsq = 0L
        val nFrames = (n / frameLen).toLong
        var prevNeg = false
        var i = 0
        while (i < n) {
          // s16le: low byte unsigned, high byte carries the sign
          val v = ((bytes(2 * i) & 0xff) | (bytes(2 * i + 1) << 8)).toLong
          sumSq += v * v
          if (i > 0 && (v < 0) != prevNeg) zc += 1
          prevNeg = v < 0
          if (i / frameLen < nFrames) {
            frameSsq += v * v
            if ((i + 1) % frameLen == 0) {
              if (frameSsq > maxFrame) maxFrame = frameSsq
              frameSsq = 0L
            }
          }
          i += 1
        }
        Row(r.getLong(idIdx), Row(n.toLong, nFrames, sumSq, zc, maxFrame))
      }
    }(enc)
  }

  // ---------- audio fingerprint lane (energy-delta near-dup, the m6 bridge) ----------

  /** Frame amplitude of the synthetic tone clip (id, frame j) — the
    * [[gridValue]] scheme in one dimension: first md5 byte of "group:j"
    * (group = id div 4), bumped for the group's r-th member on its first r
    * frames. In-group pairs therefore differ on frames ⊆ {0,1,2}, which
    * perturbs at most 3 of the 64 energy-delta comparisons — controlled
    * Hamming distances, aperiodic across groups (same rationale as m4's
    * md5 pattern: a linear formula would repeat and blow up cross-group
    * pair volume).
    */
  def toneValue(id: Long, j: Int): Int = {
    val v = md5Byte0(s"${id / 4}:$j")
    if (id % 4 > 0 && j < id % 4) (v + 97) % 256 else v
  }

  /** Deterministic synthetic tone table: one s16le clip per id, `nFrames`
    * frames of `frameLen` samples each held CONSTANT at [[toneValue]] —
    * frame-constant amplitude means the frame energy recovers the value
    * exactly (Σv² = frameLen·v², and v ≥ 0 makes energy order ≡ value
    * order), so a DuckDB oracle states every signature bit in closed form.
    * Executor-side generation: only ids leave the driver.
    */
  def syntheticPcmTones(df: DataFrame, idCol: String, frameLen: Int = 8,
                        nFrames: Int = 65): DataFrame = {
    require(frameLen > 0 && nFrames > 1, "frameLen > 0 and nFrames > 1 required")
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("payload", BinaryType),
      StructField("meta", metaSchema)))
    val enc = RowEncoder.encoderFor(outSchema)
    val idIdx = df.schema.fieldIndex(idCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        val bytes = new Array[Byte](nFrames * frameLen * 2)
        var j = 0
        while (j < nFrames) {
          val v = toneValue(id, j)
          var i = 0
          while (i < frameLen) {
            val p = 2 * (j * frameLen + i)
            bytes(p) = (v & 0xff).toByte
            bytes(p + 1) = ((v >> 8) & 0xff).toByte
            i += 1
          }
          j += 1
        }
        Row(id, bytes, Row("audio/pcm-s16le", null, null, bytes.length.toLong))
      }
    }(enc)
  }

  /** 64-bit energy-delta fingerprint of a PCM clip — [[dHash64]]'s
    * structure on the time axis (the shape audio fingerprinters like
    * Shazam-style hashes use: band/frame energy DELTAS survive gain and
    * re-encoding where absolute levels don't): decode s16le, compute
    * `nBits + 1` non-overlapping frame energies in exact Long arithmetic,
    * bit k = E_k > E_{k+1}. None when the payload is shorter than the
    * frame grid (no structure to fingerprint) — trailing samples beyond
    * it are ignored.
    */
  def audioSig64(payload: Array[Byte], frameLen: Int = 8,
                 nBits: Int = 64): Option[Long] = {
    require(frameLen > 0 && nBits >= 1 && nBits <= 64, "1 <= nBits <= 64, frameLen > 0")
    val need = (nBits + 1) * frameLen
    if (payload == null || payload.length / 2 < need) None
    else {
      val e = new Array[Long](nBits + 1)
      var j = 0
      while (j <= nBits) {
        var s = 0L
        var i = 0
        while (i < frameLen) {
          val p = 2 * (j * frameLen + i)
          val v = ((payload(p) & 0xff) | (payload(p + 1) << 8)).toLong
          s += v * v
          i += 1
        }
        e(j) = s
        j += 1
      }
      var sig = 0L
      var k = 0
      while (k < nBits) {
        if (e(k) > e(k + 1)) sig |= (1L << k)
        k += 1
      }
      Some(sig)
    }
  }

  /** Partition-parallel audio fingerprinting: media table → (media_id,
    * asig), undersized payloads dropped. One row per clip — the signature
    * frame feeds [[Dedup.simhashPairsFromSigs]] banding unchanged, making
    * the pair machinery TRI-modal (text simhash, image dHash, audio
    * energy-delta) above the signature layer.
    */
  def audioSigs(media: DataFrame, frameLen: Int = 8): DataFrame =
    sigFrame(media, "asig")(audioSig64(_, frameLen))

  // ---------- video lane (raw frames, scene-cut detection, the m7 bridge) ----------

  /** Gray level of clip `id`, scene `s` — first md5 byte of "id:s".
    * Constant WITHIN a scene, md5-fresh across scenes, so scene
    * boundaries are exactly the frames where the value changes (adjacent
    * scenes drawing the same byte — p = 1/256 per boundary — simply
    * produce no cut, identically in the oracle).
    */
  def sceneValue(id: Long, s: Int): Int = md5Byte0(s"$id:$s")

  /** Deterministic synthetic raw-frame "video": `nFrames` frames of w×h
    * 8-bit gray pixels held constant at [[sceneValue]] per `sceneLen`-frame
    * scene, concatenated as one binary payload (the fixed-size-frame
    * layout a raw video buffer or decoded frame stack has). Frame-constant
    * pixels make every frame mean the scene value EXACTLY, so the cut
    * detector's output is closed-form in the id. Executor-side generation.
    */
  def syntheticVideo(df: DataFrame, idCol: String, w: Int = 16, h: Int = 12,
                     nFrames: Int = 24, sceneLen: Int = 6): DataFrame = {
    require(w > 0 && h > 0 && nFrames > 0 && sceneLen > 0, "positive dims required")
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("payload", BinaryType),
      StructField("meta", metaSchema)))
    val enc = RowEncoder.encoderFor(outSchema)
    val idIdx = df.schema.fieldIndex(idCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        val fsz = w * h
        val bytes = new Array[Byte](nFrames * fsz)
        // one md5 per SCENE, not per frame — the value is scene-constant
        var f = 0
        while (f < nFrames) {
          val v = sceneValue(id, f / sceneLen).toByte
          val end = math.min(f + sceneLen, nFrames)
          java.util.Arrays.fill(bytes, f * fsz, end * fsz, v)
          f = end
        }
        Row(id, bytes, Row("video/raw-gray8", w, h, bytes.length.toLong))
      }
    }(enc)
  }

  /** Scene-cut detection over fixed-size raw frames — the keyframe/scene
    * segmentation step a video training-data pipeline runs before
    * captioning or frame sampling: decode each w×h 8-bit frame, compute
    * its EXACT integer mean gray (sum of pixels div pixel count — Long
    * arithmetic, no float drift), and emit one row per frame whose mean
    * differs from its predecessor's by more than `threshold`. Trailing
    * partial frames are ignored; a clip shorter than two frames has no
    * cuts. Same mapPartitions posture as every decode here: per-row byte
    * work, payloads never shuffled, output proportional to cuts.
    *
    * @return (media_id, frame_idx, prev_mean, next_mean) — frame_idx is
    *         the first frame OF the new scene.
    */
  def sceneCuts(media: DataFrame, w: Int = 16, h: Int = 12,
                threshold: Int = 0): DataFrame = {
    require(w > 0 && h > 0 && threshold >= 0, "positive dims, threshold >= 0")
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("frame_idx", LongType),
      StructField("prev_mean", LongType),
      StructField("next_mean", LongType)))
    val enc = RowEncoder.encoderFor(outSchema)
    val payloadIdx = media.schema.fieldIndex("payload")
    val idIdx = media.schema.fieldIndex("media_id")
    val fsz = w * h
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        // null payload = no frames = no cuts (the sigFrame drop semantics)
        val bytes = Option(r.getAs[Array[Byte]](payloadIdx))
          .getOrElse(Array.emptyByteArray)
        val id = r.getLong(idIdx)
        val n = bytes.length / fsz
        def mean(f: Int): Long = {
          var s = 0L
          var i = f * fsz
          val end = (f + 1) * fsz
          while (i < end) { s += (bytes(i) & 0xff); i += 1 }
          s / fsz
        }
        // each frame's bytes are read exactly once, not once per neighbor
        val means = Array.tabulate(n)(mean)
        (1 until n).iterator.flatMap { f =>
          if (math.abs(means(f) - means(f - 1)) > threshold)
            Some(Row(id, f.toLong, means(f - 1), means(f)))
          else None
        }
      }
    }(enc)
  }

  /** Persisted perceptual-signature index — the media twin of
    * [[Dedup.buildDedupIndex]] (linear parquet of (media_id, dhash), 8
    * bytes of signature per image regardless of payload size): one dedup
    * truth shared by the batch near-dup lanes and the streaming media gate
    * ([[graft.streaming.StreamingPipeline.mediaGateStream]]). Build once
    * over the existing corpus; the gate appends admitted signatures behind
    * its committed-batch markers. Rebuilding clears stale markers so a
    * fresh index never skips a replayed batch's append.
    */
  def buildMediaIndex(media: DataFrame, dir: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(media.sparkSession.sparkContext.hadoopConfiguration)
    // clear markers AND stale batch subdirs: the base write only overwrites
    // sigs/base, so a rebuild over a previously-streamed index would
    // otherwise resurrect old b<id> appends next to a fresh corpus
    for (sub <- Seq("_committed", "sigs")) {
      val p = new org.apache.hadoop.fs.Path(s"$dir/$sub")
      if (fs.exists(p)) fs.delete(p, true)
    }
    dHashSigs(media).write.mode("overwrite").parquet(s"$dir/sigs/base")
  }

  /** Append batch `batchId`'s admitted (media_id, dhash) rows to a media
    * index — IDEMPOTENTLY: each batch writes its own overwrite-scoped
    * subdir (`sigs/b<id>`), the same discipline as the gate's output
    * partitions, so an at-least-once replay that re-runs the append (a
    * crash landed between append and the committed-batch marker) REWRITES
    * the batch's rows instead of blindly appending them. The blind-append
    * form accumulated duplicate (media_id, dhash) rows per crash loop —
    * harmless to gating (candidate joins are distinct-based) but unbounded
    * in storage (round-17 advice item 2).
    *
    * CONTRACT — `batchId` is a DESTRUCTIVE key: writing a batch id that a
    * previous stream epoch already used replaces that epoch's b<id> rows.
    * The gate is safe by construction (its committed-batch markers skip
    * the append on replay, and [[buildMediaIndex]] clears markers, batch
    * subdirs, and base together on rebuild), but a caller that resets a
    * stream CHECKPOINT against a KEPT index — restarting batch ids at 0
    * with markers manually cleared — would silently erase the first
    * epoch's admissions. Round 19 (verdict item 3) makes that misuse LOUD
    * like every other gate failure: a `batchId` BELOW the max existing
    * batch subdir is refused unless `allowReplace = true`. Equality stays
    * legal — it is exactly the gate's marker-lost replay window (crash
    * between append and marker ⇒ the replay rewrites its OWN b<id>), and
    * older batches all have markers so the gate never re-appends them.
    * Recovery from a refusal: rebuild the index with the checkpoint, or
    * run [[compactMediaIndex]] first (folds every batch into `base`,
    * freeing the whole id space). Single-writer, like every sink here.
    */
  def appendToMediaIndex(sigs: DataFrame, dir: String, batchId: Long,
                         allowReplace: Boolean = false): Unit = {
    if (!allowReplace) {
      val sigsPath = new org.apache.hadoop.fs.Path(s"$dir/sigs")
      val fs = sigsPath.getFileSystem(
        sigs.sparkSession.sparkContext.hadoopConfiguration)
      val maxExisting =
        if (!fs.exists(sigsPath)) None
        else fs.listStatus(sigsPath).toSeq
          .map(_.getPath.getName)
          .collect { case s if s.matches("b\\d+") => s.drop(1).toLong }
          .maxOption
      maxExisting.foreach { mx =>
        require(batchId >= mx,
          s"appendToMediaIndex: batchId $batchId is below the max existing " +
            s"batch subdir b$mx — a checkpoint reset against a kept index " +
            "would silently replace that epoch's admissions. Rebuild the " +
            "index (buildMediaIndex) together with the checkpoint, compact " +
            "first (compactMediaIndex frees the id space), or pass " +
            "allowReplace = true if the replacement is intentional.")
      }
    }
    sigs.select(col("media_id"), col("dhash"))
      .write.mode("overwrite").parquet(s"$dir/sigs/b$batchId")
  }

  /** The index's signature frame: (media_id, dhash) — the union of the
    * base build and every batch-scoped append subdir.
    *
    * Layout check (round-19 advice item 2): an index persisted by the
    * pre-round-18 FLAT layout (part files directly under `sigs/`) would
    * make the subdir glob treat each part file — and non-parquet markers
    * like `_SUCCESS` — as a root path and fail confusingly (or worse,
    * read partially). Any non-directory child under `sigs/` fails loudly
    * with the rebuild instruction instead.
    */
  def mediaIndexSigs(spark: SparkSession, dir: String): DataFrame = {
    val sigsPath = new org.apache.hadoop.fs.Path(s"$dir/sigs")
    val fs = sigsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(sigsPath)) {
      val flat = fs.listStatus(sigsPath).filter(!_.isDirectory)
        .map(_.getPath.getName)
      require(flat.isEmpty,
        s"mediaIndexSigs: $dir/sigs contains non-directory entries " +
          s"(${flat.take(3).mkString(", ")}) — a flat pre-batch-subdir " +
          "layout this reader cannot load. Rebuild the index with " +
          "buildMediaIndex over the current corpus.")
    }
    spark.read.parquet(s"$dir/sigs/*")
  }

  /** Compact the media index in place — [[graft.operators.Dedup.compactDedupIndex]]'s
    * multimodal twin: a long-lived gate accumulates one `sigs/b<id>` subdir
    * per admitted batch (plus duplicate rows only in the marker-lost replay
    * window); compaction rewrites the whole signature set DISTINCT into a
    * single `base` subdir of few files, via the same rename-aside swap +
    * entry-time crash recovery (the index stays readable at every crash
    * point; committed-batch markers are untouched — content is preserved,
    * so replay-skips stay valid). Single-writer: serialize against gate
    * batches. Returns (rows before, rows after).
    */
  def compactMediaIndex(spark: SparkSession, dir: String,
                        numFiles: Int = 4): (Long, Long) =
    // the shared distinct rewrite (Dedup.compactDistinctDir), parameterized
    // for this index's layout: read the base+batch subdirs via the glob,
    // fold the distinct rewrite into a single base/ subdir
    Dedup.compactDistinctDir(spark, dir, "sigs", numFiles,
      readPath = p => s"$p/*", writeSub = "base")
}
