package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling: image/audio/video as opaque `binary`
  * columns with typed metadata, plus a decode/feature-extract stage.
  *
  * The Spark-side plumbing — schema, partition-parallel batched decode,
  * fixed-dim feature output — is real; the decoder itself is a STUB
  * (this container has no image/audio codecs): it derives deterministic
  * fake features from the bytes so the pipeline is testable end-to-end.
  * Swap `decodeStub` for a real codec (JNI/FFmpeg/JPEG) without touching
  * the plan shape.
  *
  * Scale notes: decode runs in `mapPartitions` (one decoder instance per
  * partition, like the embedder fabric), so a 1000-executor cluster
  * decodes 1000 partitions concurrently with no driver involvement, and
  * the binary payload never shuffles — only the extracted features do.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("content", BinaryType, nullable = false),
    StructField("media_type", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false)))

  /** Builds a deterministic fake media table from the documents fixture:
    * content = utf-8 bytes of the text (stand-in for image bytes),
    * metadata derived from doc fields. */
  def fakeMediaTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      col("text").cast(BinaryType).as("content"),
      (when(col("doc_id") % 2 === 0, "image/png").otherwise("image/jpeg")).as("media_type"),
      (col("n_chars") % 640 + 1).cast(IntegerType).as("width"),
      (col("n_chars") % 480 + 1).cast(IntegerType).as("height"))

  /** STUB decoder: a real implementation would decode image bytes and
    * pool pixel features (see the ImageIO PNG path below); this derives
    * `featureDim` values from the md5 digest of the bytes — deterministic,
    * codec-free, same output shape, and exactly reproducible in SQL
    * (`('0x'||substr(md5(text),4j+1,4))::BIGINT / 65535.0`) so the stub
    * query stays on the differential oracle. featureDim ≤ 8 (32 hex chars
    * / 4 per feature). */
  def decodeStub(content: Array[Byte], featureDim: Int): Array[Float] = {
    require(featureDim <= 8, s"stub features derive from md5 (max 8 dims), got $featureDim")
    val hex = java.security.MessageDigest.getInstance("MD5").digest(content)
      .map(b => f"${b & 0xff}%02x").mkString
    Array.tabulate(featureDim) { j =>
      (java.lang.Long.parseLong(hex.substring(4 * j, 4 * j + 4), 16) / 65535.0).toFloat
    }
  }

  /** Partition-parallel batched decode/feature-extract over a binary
    * column. The decoder is instantiated once per partition; rows stream
    * through without materializing the whole partition. */
  def withFeatures(media: DataFrame, featureDim: Int = 8, outCol: String = "features"): DataFrame = {
    val outSchema = StructType(media.schema.fields :+
      StructField(outCol, ArrayType(FloatType, containsNull = false), nullable = false))
    val enc = RowEncoder.encoderFor(outSchema)
    val contentIdx = media.schema.fieldIndex("content")
    media.mapPartitions { rows =>
      // real decoders initialize a codec context here, once per partition
      rows.map { row =>
        val bytes = row.getAs[Array[Byte]](contentIdx)
        Row.fromSeq(row.toSeq :+ decodeStub(bytes, featureDim))
      }
    }(enc)
  }

  /** STUB resize: a real implementation would decode, scale to
    * (targetW, targetH) and re-encode; the stub re-derives the bytes
    * deterministically from (content hash, target dims) with the right
    * output SIZE so downstream sizing/batching logic is exercised for
    * real. Plan shape is what matters: a map-only pass, binary in /
    * binary out, no shuffle. */
  def resizeStub(media: DataFrame, targetW: Int, targetH: Int): DataFrame = {
    val enc = RowEncoder.encoderFor(media.schema)
    val contentIdx = media.schema.fieldIndex("content")
    val wIdx = media.schema.fieldIndex("width")
    val hIdx = media.schema.fieldIndex("height")
    media.mapPartitions { rows =>
      rows.map { row =>
        val bytes = row.getAs[Array[Byte]](contentIdx)
        // deterministic fake "resized" payload ~ targetW*targetH/64 bytes
        val n = math.max(1, targetW * targetH / 64)
        val out = new Array[Byte](n)
        var h = java.util.Arrays.hashCode(bytes)
        var i = 0
        while (i < n) { h = h * 31 + i; out(i) = (h & 0xff).toByte; i += 1 }
        Row.fromSeq(row.toSeq.updated(contentIdx, out)
          .updated(wIdx, targetW).updated(hIdx, targetH))
      }
    }(enc)
  }

  /** STUB frame sampling: video → one row per sampled frame
    * (`media_id`, `frame_idx`, frame bytes). A real implementation
    * seeks keyframes; the stub emits `nFrames` deterministic slices.
    * The plan shape is the real thing: a generator (flatMap) that
    * multiplies rows map-side — frames are born distributed, the video
    * bytes are read once and never shuffled. */
  def frameSampleStub(media: DataFrame, nFrames: Int): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("frame", BinaryType, nullable = false)))
    val enc = RowEncoder.encoderFor(outSchema)
    val idIdx = media.schema.fieldIndex("media_id")
    val contentIdx = media.schema.fieldIndex("content")
    media.mapPartitions { rows =>
      rows.flatMap { row =>
        val id = row.getLong(idIdx)
        val bytes = row.getAs[Array[Byte]](contentIdx)
        (0 until nFrames).iterator.map { f =>
          val start = if (bytes.isEmpty) 0 else (bytes.length.toLong * f / nFrames).toInt
          val end = math.min(bytes.length, start + 16)
          Row(id, f, java.util.Arrays.copyOfRange(bytes, start, end))
        }
      }
    }(enc)
  }

  // ---- real PNG codec path (javax.imageio — ships with the JDK) ----

  // ImageIO's default disk cache costs a temp file per encode/decode;
  // these are tiny in-memory images.
  javax.imageio.ImageIO.setUseCache(false)

  /** Deterministic pixel formula for the synthetic PNG fixture:
    * gray(id, x, y) = (id·31 + x·7 + y·13) mod 256. Pure integer
    * arithmetic → the decoded pixel sums are exactly reproducible in
    * SQL from (doc_id, width, height) alone. */
  def pngPixel(id: Long, x: Int, y: Int): Int = ((id * 31 + x * 7 + y * 13) % 256).toInt

  def pngDims(id: Long): (Int, Int) = (((id % 7) + 2).toInt, ((id % 5) + 2).toInt)

  /** Encodes one synthetic grayscale PNG (real codec, real bytes). */
  def encodePng(id: Long): Array[Byte] = {
    val (w, h) = pngDims(id)
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { raster.setSample(x, y, 0, pngPixel(id, x, y)); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Media table with REAL PNG payloads (one tiny image per document id).
    * Same plan shape as [[fakeMediaTable]]: map-only, binary born
    * distributed. The declared width/height columns are intentionally
    * NOT trusted by the decode path — the decoder re-derives them from
    * the bytes. */
  def pngMediaTable(docs: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("content", BinaryType, nullable = false))))
    val idIdx = docs.schema.fieldIndex("doc_id")
    docs.mapPartitions { rows =>
      rows.map { row => val id = row.getLong(idIdx); Row(id, encodePng(id)) }
    }(enc)
  }

  /** REAL decode: ImageIO-parses the PNG bytes and pools pixel stats —
    * dimensions and the exact gray sum. Runs in `mapPartitions` like the
    * stub (decoder per partition, bytes never shuffle). */
  def decodePngStats(media: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("sum_gray", LongType, nullable = false))))
    val idIdx = media.schema.fieldIndex("media_id")
    val contentIdx = media.schema.fieldIndex("content")
    media.mapPartitions { rows =>
      rows.map { row =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(row.getAs[Array[Byte]](contentIdx)))
        val (w, h) = (img.getWidth, img.getHeight)
        val raster = img.getRaster
        var sum = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { sum += raster.getSample(x, y, 0); x += 1 }
          y += 1
        }
        Row(row.getLong(idIdx), w, h, sum)
      }
    }(enc)
  }

  /** REAL resize through real codecs: ImageIO decode → nearest-neighbor
    * resample (src pixel = (x·w)/W, (y·h)/H with integer division —
    * deterministic and exactly reproducible in SQL, unlike filtered
    * scaling) → ImageIO re-encode. Map-only; replaces [[resizeStub]] on
    * the PNG path. */
  def resizePngNearest(media: DataFrame, targetW: Int, targetH: Int): DataFrame = {
    val enc = RowEncoder.encoderFor(StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("content", BinaryType, nullable = false))))
    val idIdx = media.schema.fieldIndex("media_id")
    val contentIdx = media.schema.fieldIndex("content")
    media.mapPartitions { rows =>
      rows.map { row =>
        val src = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(row.getAs[Array[Byte]](contentIdx)))
        val (w, h) = (src.getWidth, src.getHeight)
        val out = new java.awt.image.BufferedImage(targetW, targetH,
          java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val sr = src.getRaster; val or = out.getRaster
        var y = 0
        while (y < targetH) {
          var x = 0
          while (x < targetW) {
            or.setSample(x, y, 0, sr.getSample(x * w / targetW, y * h / targetH, 0))
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(out, "png", bos)
        Row(row.getLong(idIdx), bos.toByteArray)
      }
    }(enc)
  }

  /** dHash perceptual fingerprint (difference hash, the standard cheap
    * image near-dup signature): nearest-neighbor-sample the decoded
    * image onto a 9×8 grid, emit one bit per horizontally adjacent
    * pair (right > left), 64 bits total. Resize-invariant by
    * construction — the property `mm_phash_dedup` (registry.MmEntries)
    * pins against a REAL recompressed copy. Real ImageIO decode per
    * row, map-only, binary never shuffles; at corpus scale the hashes
    * (8 bytes/image) are what joins, never the pixels. */
  def dHash(img: java.awt.image.BufferedImage): Long = {
    val (w, h) = (img.getWidth, img.getHeight)
    val r = img.getRaster
    var hash = 0L
    var bit = 0
    var gy = 0
    while (gy < 8) {
      var gx = 0
      while (gx < 8) {
        val a = r.getSample(gx * w / 9, gy * h / 8, 0)
        val b = r.getSample((gx + 1) * w / 9, gy * h / 8, 0)
        if (b > a) hash |= (1L << bit)
        bit += 1
        gx += 1
      }
      gy += 1
    }
    hash
  }

  /** (media_id, dhash) per image — decode + fingerprint in one
    * mapPartitions pass. */
  def dhashTable(media: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("dhash", LongType, nullable = false))))
    val idIdx = media.schema.fieldIndex("media_id")
    val contentIdx = media.schema.fieldIndex("content")
    media.mapPartitions { rows =>
      rows.map { row =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(row.getAs[Array[Byte]](contentIdx)))
        Row(row.getLong(idIdx), dHash(img))
      }
    }(enc)
  }

  /** Per-image dHash resize-invariance census, one map pass per row:
    * decode → dHash → REAL nearest-neighbor resize → PNG re-encode →
    * re-decode → dHash again. No shuffle anywhere — the pixel data
    * never leaves the partition; only (id, hash, hash) rows emerge.
    * This is the plumbing of perceptual near-dup dedup at corpus
    * scale: fingerprints join/bucket downstream, pixels never do. */
  def dhashResizeCensus(media: DataFrame, targetW: Int, targetH: Int): DataFrame = {
    val enc = RowEncoder.encoderFor(StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("h_orig", LongType, nullable = false),
      StructField("h_resized", LongType, nullable = false))))
    val idIdx = media.schema.fieldIndex("media_id")
    val contentIdx = media.schema.fieldIndex("content")
    media.mapPartitions { rows =>
      rows.map { row =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(row.getAs[Array[Byte]](contentIdx)))
        val (w, h) = (img.getWidth, img.getHeight)
        val out = new java.awt.image.BufferedImage(targetW, targetH,
          java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val sr = img.getRaster; val or = out.getRaster
        var y = 0
        while (y < targetH) {
          var x = 0
          while (x < targetW) {
            or.setSample(x, y, 0, sr.getSample(x * w / targetW, y * h / targetH, 0))
            x += 1
          }
          y += 1
        }
        // real codec roundtrip for the resized copy
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(out, "png", bos)
        val reread = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bos.toByteArray))
        Row(row.getLong(idIdx), dHash(img), dHash(reread))
      }
    }(enc)
  }

  /** Byte-level stats of the binary column — pure column expressions,
    * fully oracle-checkable (md5 over bytes = DuckDB md5 over the same
    * text; length = octet_length). */
  def binaryStats(media: DataFrame): DataFrame =
    media.select(
      col("media_id"), col("media_type"), col("width"), col("height"),
      length(col("content")).cast(LongType).as("n_bytes"),
      md5(col("content")).as("content_md5"))

  // ---- real WAV codec path (javax.sound.sampled — ships with the JDK) ----

  /** Deterministic 16-bit PCM sample formula for the synthetic WAV
    * fixture: s(id, i) = ((id·37 + i·17) mod 65536) − 32768. Pure
    * integer arithmetic → decoded sample sums are exactly reproducible
    * in SQL from doc_id alone. */
  def wavSample(id: Long, i: Int): Int = (((id * 37 + i * 17) % 65536) - 32768).toInt

  def wavParams(id: Long): (Int, Int) = // (nSamples, sampleRate)
    ((id % 50 + 10).toInt, (8000 + (id % 4) * 4000).toInt)

  /** Encodes one synthetic mono 16-bit PCM WAV through the real JDK
    * audio codec (AudioSystem writes the RIFF/fmt/data chunks). */
  def encodeWav(id: Long): Array[Byte] = {
    val (n, rate) = wavParams(id)
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = wavSample(id, i)
      pcm(2 * i) = (s & 0xff).toByte        // little-endian
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Banded-energy audio fingerprint (the energy-delta signature family
    * of audio near-dup detection): split the clip into `bands` equal
    * windows, one bit per adjacent window pair (right energy > left),
    * `bands − 1` bits. Volume-invariant up to integer-rounding ties —
    * the property the census below pins against a REAL re-encoded
    * half-gain copy. */
  def audioFingerprint(samples: Array[Int], bands: Int = 16): Long = {
    val n = samples.length
    val energy = new Array[Long](bands)
    var w = 0
    while (w < bands) {
      var i = w * n / bands
      val end = (w + 1) * n / bands
      while (i < end) { energy(w) += math.abs(samples(i)); i += 1 }
      w += 1
    }
    var hash = 0L
    w = 0
    while (w < bands - 1) {
      if (energy(w + 1) > energy(w)) hash |= (1L << w)
      w += 1
    }
    hash
  }

  /** Per-clip fingerprint volume-invariance census, one map pass:
    * real decode → fingerprint → halve every sample (integer, toward
    * zero) → REAL WAV re-encode → re-decode → fingerprint again. PCM
    * never shuffles; only (id, fp, fp) rows emerge — the audio twin of
    * [[dhashResizeCensus]]. */
  def audioFpGainCensus(media: DataFrame, bands: Int = 16): DataFrame = {
    val enc = RowEncoder.encoderFor(StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("h_orig", LongType, nullable = false),
      StructField("h_scaled", LongType, nullable = false))))
    val idIdx = media.schema.fieldIndex("media_id")
    val contentIdx = media.schema.fieldIndex("content")
    media.mapPartitions { rows =>
      rows.map { row =>
        def readSamples(bytes: Array[Byte]): (Array[Int], Float) = {
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(bytes))
          val n = ais.getFrameLength.toInt
          val pcm = ais.readAllBytes()
          val out = Array.tabulate(n) { i =>
            ((pcm(2 * i) & 0xff) | (pcm(2 * i + 1) << 8)).toShort.toInt
          }
          (out, ais.getFormat.getSampleRate)
        }
        val (samples, rate) = readSamples(row.getAs[Array[Byte]](contentIdx))
        // half-gain copy through the real codec
        val scaled = samples.map(_ / 2)
        val pcm2 = new Array[Byte](scaled.length * 2)
        var i = 0
        while (i < scaled.length) {
          pcm2(2 * i) = (scaled(i) & 0xff).toByte
          pcm2(2 * i + 1) = ((scaled(i) >> 8) & 0xff).toByte
          i += 1
        }
        val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(
          new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm2), fmt, scaled.length.toLong),
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        val (reread, _) = readSamples(bos.toByteArray)
        Row(row.getLong(idIdx),
          audioFingerprint(samples, bands), audioFingerprint(reread, bands))
      }
    }(enc)
  }

  /** Media table with REAL WAV payloads (one clip per document id). */
  def wavMediaTable(docs: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("content", BinaryType, nullable = false))))
    val idIdx = docs.schema.fieldIndex("doc_id")
    docs.mapPartitions { rows =>
      rows.map { row => val id = row.getLong(idIdx); Row(id, encodeWav(id)) }
    }(enc)
  }

  /** REAL audio decode: AudioSystem parses the RIFF container and PCM
    * format, then the samples are read back and pooled — frame count,
    * sample rate, exact sample sum and peak. The decoder does NOT trust
    * any side metadata; everything is re-derived from the bytes. Same
    * scale shape as the PNG path: decoder per partition, bytes never
    * shuffle, only O(1) stats come out. */
  def decodeWavStats(media: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("n_samples", LongType, nullable = false),
      StructField("sample_rate", IntegerType, nullable = false),
      StructField("sum_pcm", LongType, nullable = false),
      StructField("peak_pcm", IntegerType, nullable = false))))
    val idIdx = media.schema.fieldIndex("media_id")
    val contentIdx = media.schema.fieldIndex("content")
    media.mapPartitions { rows =>
      rows.map { row =>
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(row.getAs[Array[Byte]](contentIdx)))
        val fmt = ais.getFormat
        val n = ais.getFrameLength.toInt
        val bytes = ais.readAllBytes()
        var sum = 0L
        var peak = 0
        var i = 0
        while (i < n) {
          val s = ((bytes(2 * i) & 0xff) | (bytes(2 * i + 1) << 8)).toShort.toInt
          sum += s
          if (math.abs(s) > peak) peak = math.abs(s)
          i += 1
        }
        Row(row.getLong(idIdx), n.toLong, fmt.getSampleRate.toInt, sum, peak)
      }
    }(enc)
  }

  // ---- video-style frame container: demux + sampled decode ----

  /** Container layout (stand-in for an MP4/MKV demuxer, which the JDK
    * lacks): magic "GFV1" | int32 frameCount | frames, each
    * int32 length | PNG bytes. Frame pixels follow
    * gray(id, f, x, y) = (id·31 + f·11 + x·7 + y·13) mod 256 at the
    * pngDims(id) dimensions — SQL-reproducible per sampled frame. */
  def framePixel(id: Long, f: Int, x: Int, y: Int): Int =
    ((id * 31 + f * 11 + x * 7 + y * 13) % 256).toInt

  def frameCount(id: Long): Int = (id % 6 + 4).toInt

  def encodeFrameContainer(id: Long): Array[Byte] = {
    val (w, h) = pngDims(id)
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeBytes("GFV1")
    val n = frameCount(id)
    out.writeInt(n)
    var f = 0
    while (f < n) {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { raster.setSample(x, y, 0, framePixel(id, f, x, y)); x += 1 }
        y += 1
      }
      val frameBytes = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", frameBytes)
      out.writeInt(frameBytes.size())
      frameBytes.writeTo(out)
      f += 1
    }
    bos.toByteArray
  }

  def videoMediaTable(docs: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("content", BinaryType, nullable = false))))
    val idIdx = docs.schema.fieldIndex("doc_id")
    docs.mapPartitions { rows =>
      rows.map { row => val id = row.getLong(idIdx); Row(id, encodeFrameContainer(id)) }
    }(enc)
  }

  /** Demux + sample every `step`-th frame + REAL per-frame PNG decode,
    * pooling pixel stats per sampled frame. flatMap generator shape:
    * frames are born distributed (rows multiply map-side), the container
    * bytes are read once and never shuffle — the plan a real keyframe
    * sampler over 100 TB of video needs. */
  def sampleFrames(media: DataFrame, step: Int): DataFrame = {
    val enc = RowEncoder.encoderFor(StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("sum_gray", LongType, nullable = false))))
    val idIdx = media.schema.fieldIndex("media_id")
    val contentIdx = media.schema.fieldIndex("content")
    media.mapPartitions { rows =>
      rows.flatMap { row =>
        val id = row.getLong(idIdx)
        val in = new java.io.DataInputStream(
          new java.io.ByteArrayInputStream(row.getAs[Array[Byte]](contentIdx)))
        val magic = new Array[Byte](4)
        in.readFully(magic)
        require(new String(magic, "US-ASCII") == "GFV1", s"bad container magic for media $id")
        val n = in.readInt()
        (0 until n).iterator.flatMap { f =>
          val len = in.readInt()
          val frame = new Array[Byte](len)
          in.readFully(frame)
          if (f % step != 0) None
          else {
            val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(frame))
            val raster = img.getRaster
            var sum = 0L
            var y = 0
            while (y < img.getHeight) {
              var x = 0
              while (x < img.getWidth) { sum += raster.getSample(x, y, 0); x += 1 }
              y += 1
            }
            Some(Row(id, f, img.getWidth, img.getHeight, sum))
          }
        }
      }
    }(enc)
  }
}
