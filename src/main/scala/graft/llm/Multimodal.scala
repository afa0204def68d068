package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque `binary` payloads
  * with typed metadata, plus the decode and feature stages a
  * training pipeline runs over them.
  *
  * REAL decodes (no external dependency needed): PPM P6 (`decodePpmJvm`,
  * byte arithmetic), RIFF/WAVE integer PCM (`decodeWavJvm`, byte
  * arithmetic), and every raster codec the JDK ships via `javax.imageio` —
  * PNG/BMP/GIF/JPEG (`decodeImageIoJvm`). Only formats with no JVM-builtin
  * codec remain STUBBED behind `fakeDecodeFeatures` (video containers,
  * compressed audio such as MP3/AAC/FLAC): a deterministic hash-derived
  * feature vector standing in for the codec, with the Spark plumbing —
  * binary columns, metadata structs, batch-shaped partition logic — real
  * and identical to the non-stub paths, so swapping in a codec is a
  * one-function change.
  */
object Multimodal {

  /** Wrap a text column as a binary payload + metadata struct — the schema a
    * real multimodal table would have (payload BLOB + typed sidecar).
    */
  def attachPayload(df: DataFrame, srcCol: String = "text"): DataFrame =
    df.withColumn("payload", col(srcCol).cast("binary"))
      .withColumn("meta", struct(
        octet_length(col(srcCol)).cast("long").as("n_bytes"),
        lit("text/plain").as("mime"),
        sha2(col(srcCol).cast("binary"), 256).as("digest")))

  /** STUB for media decode: a deterministic `dim`-length feature vector
    * derived from the payload digest (md5-60 of "sha256hex:i", scaled to
    * [−1, 1) — engine-agnostic, so the DuckDB oracle replicates the values
    * bit-for-bit). A real implementation would decode the payload bytes
    * (image/audio lib) and emit real features; the schema, partitioning and
    * batch shape are identical.
    */
  def fakeDecodeFeatures(payload: Column, dim: Int): Column = {
    val digest = sha2(payload.cast("binary"), 256)
    transform(sequence(lit(0), lit(dim - 1)), i => {
      val h = graft.functions.CrossHashExprs.md5h60(
        concat(digest, lit(":"), i.cast("string")))
      (h % 1000).cast("double") / 500.0 - 1.0
    })
  }

  /** Feature-extract stage over the payload table. */
  def withFeatures(df: DataFrame, dim: Int = 16): DataFrame =
    df.withColumn("features", fakeDecodeFeatures(col("payload"), dim))

  /** Batched decode over mapPartitions — the Scala analog of a Pandas-UDF
    * `mapInPandas` stage: payloads stream through in batches of `batchSize`
    * so a real codec amortizes its per-batch init (model load, JNI codec
    * handle) across the batch. The decode itself is STUBBED (deterministic
    * bytes→features hash); the schema, partitioning, batch shape and
    * iterator plumbing are exactly what a real decoder plugs into.
    */
  def decodeBatched(df: DataFrame, dim: Int = 16, batchSize: Int = 64): DataFrame = {
    val sess = df.sparkSession
    import sess.implicits._
    df.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          // -- a real implementation initializes the codec HERE, once per batch
          batch.iterator.map { case (id, bytes) =>
            (id, stubDecodeJvm(bytes, dim), batch.length)
          }
        }
      }
      .toDF("doc_id", "features", "batch_size")
  }

  /** STUB decoder (JVM side): the same md5-60-derived features as
    * [[fakeDecodeFeatures]], so the batched path is value-identical to the
    * column-expression path (asserted in MultimodalSpec).
    */
  private[llm] def stubDecodeJvm(bytes: Array[Byte], dim: Int): Array[Double] = {
    val sha = java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
    val hexDigest = sha.map(b => f"$b%02x").mkString
    Array.tabulate(dim) { i =>
      val h = graft.functions.CrossHash.md5h60(s"$hexDigest:$i".getBytes("UTF-8"))
      (h % 1000).toDouble / 500.0 - 1.0
    }
  }

  // ------------------------------------------------- REAL decode: PPM P6

  /** A decoded PPM (P6) image: dimensions plus exact per-channel means
    * (integer pixel sums, one final IEEE division — deterministic).
    */
  final case class PpmImage(width: Int, height: Int,
                            meanR: Double, meanG: Double, meanB: Double)

  /** REAL image decode for the one raster format that needs no codec
    * library: binary PPM (`P6`) is an ASCII header (`P6`, width, height,
    * maxval, '#' comments allowed) followed by raw RGB bytes — pure byte
    * arithmetic, so this path is NOT a stub. PNG/BMP/GIF/JPEG decode for
    * real via [[decodeImageIoJvm]] (JDK ImageIO); only codec-less formats
    * (video, compressed audio) stay behind [[fakeDecodeFeatures]].
    */
  private[llm] def decodePpmJvm(bytes: Array[Byte]): Option[PpmImage] = {
    var i = 0
    def skipWs(): Unit = {
      var in = true
      while (in && i < bytes.length) {
        val c = bytes(i)
        if (c == '#') { while (i < bytes.length && bytes(i) != '\n') i += 1 }
        else if (c == ' ' || c == '\t' || c == '\r' || c == '\n') i += 1
        else in = false
      }
    }
    def int(): Option[Int] = {
      skipWs()
      val start = i
      var v = 0L
      while (i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9' && v <= Int.MaxValue) {
        v = v * 10 + (bytes(i) - '0'); i += 1
      }
      if (i == start || v > Int.MaxValue) None else Some(v.toInt)
    }
    if (bytes.length < 2 || bytes(0) != 'P' || bytes(1) != '6') return None
    i = 2
    for {
      w <- int(); h <- int(); maxv <- int()
      if w > 0 && h > 0 && maxv > 0 && maxv < 256 // 1 byte/channel only
      if i < bytes.length // the single whitespace byte after maxval
      _ = { i += 1 }
      if bytes.length - i >= w.toLong * h * 3
    } yield {
      var (sr, sg, sb) = (0L, 0L, 0L)
      val n = w * h
      var p = 0
      while (p < n) {
        val o = i + p * 3
        sr += bytes(o) & 0xff; sg += bytes(o + 1) & 0xff; sb += bytes(o + 2) & 0xff
        p += 1
      }
      PpmImage(w, h, sr.toDouble / n, sg.toDouble / n, sb.toDouble / n)
    }
  }

  /** Batched REAL decode over payload rows: PPM payloads parse to
    * dimensions + channel means, anything else yields `ok = false` with
    * null fields (a mixed-format corpus keeps flowing; route non-PPM rows
    * to their codec's stage). Same grouped-iterator shape as
    * [[decodeBatched]] — a real JPEG codec drops into the same loop.
    */
  def decodePpmBatched(df: DataFrame, batchSize: Int = 64): DataFrame = {
    val sess = df.sparkSession
    import sess.implicits._
    df.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { case (id, bytes) =>
            decodePpmJvm(bytes) match {
              case Some(img) => (id, true, Some(img.width), Some(img.height),
                Some(img.meanR), Some(img.meanG), Some(img.meanB))
              case None => (id, false, None, None, None, None, None)
            }
          }
        }
      }
      .toDF("doc_id", "ok", "width", "height", "mean_r", "mean_g", "mean_b")
  }

  // ------------------------------------------------- REAL decode: ImageIO

  /** REAL image decode for every raster codec the JDK ships: `javax.imageio`
    * reads PNG, BMP, GIF, JPEG (and WBMP/TIFF on modern JDKs) with zero
    * external dependencies, so none of those formats needs the stub. Output
    * reuses [[PpmImage]] — dimensions + exact per-channel means from integer
    * pixel sums (for lossless formats the means are bit-deterministic;
    * JPEG decodes real pixels but lossily, so only lossless formats are
    * oracle-gated). Unreadable/unsupported payloads yield None, same
    * mixed-corpus policy as [[decodePpmJvm]].
    */
  private[llm] def decodeImageIoJvm(bytes: Array[Byte]): Option[PpmImage] = {
    if (bytes.length < 8) return None
    val img =
      try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
      catch { case _: java.io.IOException | _: RuntimeException => None }
    img.flatMap { bi =>
      val w = bi.getWidth; val h = bi.getHeight
      if (w <= 0 || h <= 0) None
      else {
        var sr = 0L; var sg = 0L; var sb = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = bi.getRGB(x, y) // sRGB packed int, exact for 8-bit data
            sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
            x += 1
          }
          y += 1
        }
        val n = w.toLong * h
        Some(PpmImage(w, h, sr.toDouble / n, sg.toDouble / n, sb.toDouble / n))
      }
    }
  }

  /** Synthesize a PNG (JVM side) — fixture-builder dual of
    * [[decodeImageIoJvm]], pixels from a deterministic (x, y) → (r, g, b)
    * formula. PNG is lossless, so a decode of this file must reproduce the
    * formula's bytes exactly.
    */
  private[graft] def pngFileJvm(width: Int, height: Int,
                                pixel: (Int, Int) => (Int, Int, Int)): Array[Byte] =
    imageFileJvm(width, height, "png", pixel)

  /** Synthesize an RGB image in any lossless ImageIO-writable container
    * ("png", "bmp", "gif" for paletted-safe content) — the fixture side of
    * the real-decode gates; [[decodeImageIoJvm]] reads them all through
    * the same container-agnostic path.
    */
  private[graft] def imageFileJvm(width: Int, height: Int, format: String,
                                  pixel: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val bi = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val (r, g, b) = pixel(x, y)
        bi.setRGB(x, y, ((r & 0xff) << 16) | ((g & 0xff) << 8) | (b & 0xff))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(bi, format, bos),
      s"no ImageIO writer for format '$format'")
    bos.toByteArray
  }

  /** Batched REAL image decode over payload rows via ImageIO — same
    * grouped-iterator shape and output schema as [[decodePpmBatched]];
    * per-partition the ImageIO disk cache is disabled once (in-memory
    * streams only — a spinning scratch-file cache per task would be the
    * hidden serial I/O at scale).
    */
  def decodeImageBatched(df: DataFrame, batchSize: Int = 64): DataFrame = {
    val sess = df.sparkSession
    import sess.implicits._
    df.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { case (id, bytes) =>
            decodeImageIoJvm(bytes) match {
              case Some(img) => (id, true, Some(img.width), Some(img.height),
                Some(img.meanR), Some(img.meanG), Some(img.meanB))
              case None => (id, false, None, None, None, None, None)
            }
          }
        }
      }
      .toDF("doc_id", "ok", "width", "height", "mean_r", "mean_g", "mean_b")
  }

  // ------------------------------------------------- REAL decode: WAV PCM

  /** A decoded WAV clip: format geometry plus exact amplitude stats —
    * integer sample sums (sum, sum-of-squares, peak |amplitude|) with one
    * final IEEE division each, so every value is deterministic and
    * oracle-replayable (same trade as [[PpmImage]]'s channel means; no
    * sqrt — RMS² is reported as `msAmp`, callers can sqrt for display).
    */
  final case class WavClip(nChannels: Int, sampleRate: Int, bitsPerSample: Int,
                           nFrames: Int, meanAmp: Double, msAmp: Double,
                           peakAmp: Int)

  /** REAL audio decode for the container+codec that needs no library:
    * RIFF/WAVE with integer PCM (bits = 8 unsigned-centered or 16
    * little-endian signed) is pure byte arithmetic. The chunk walk skips
    * unknown chunks (LIST/INFO metadata is routine in real files) and
    * honors RIFF's word alignment (odd-sized chunks pad one byte).
    * Compressed/float formats (audioFormat ≠ 1), exotic widths, and
    * truncated or empty payloads yield None — route those rows to a codec
    * stage, same policy as [[decodePpmJvm]].
    */
  private[llm] def decodeWavJvm(bytes: Array[Byte]): Option[WavClip] = {
    def u8(i: Int): Int = bytes(i) & 0xff
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long =
      u8(i).toLong | (u8(i + 1).toLong << 8) |
        (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    def tag(i: Int): String = new String(bytes, i, 4, "US-ASCII")
    if (bytes.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var fmt: Option[(Int, Int, Int, Int)] = None // format, nCh, rate, bits
    var i = 12
    while (i + 8 <= bytes.length) {
      val t = tag(i)
      val sz = le32(i + 4)
      if (sz < 0 || i + 8 + sz > bytes.length) return None
      t match {
        case "fmt " if sz >= 16 =>
          fmt = Some((le16(i + 8), le16(i + 10), le32(i + 12).toInt,
            le16(i + 22)))
        case "data" =>
          return fmt.flatMap { case (af, nCh, rate, bits) =>
            val w = bits / 8
            if (af != 1 || nCh < 1 || (bits != 8 && bits != 16) ||
                sz < w || sz % (w * nCh) != 0) None
            else {
              val n = (sz / w).toInt // total samples across channels
              var sum = 0L; var sumsq = 0L; var peak = 0
              var p = 0
              while (p < n) {
                val o = i + 8 + p * w
                val v = if (bits == 16) le16(o).toShort.toInt else u8(o) - 128
                sum += v; sumsq += v.toLong * v
                val a = math.abs(v); if (a > peak) peak = a
                p += 1
              }
              Some(WavClip(nCh, rate, bits, n / nCh,
                sum.toDouble / n, sumsq.toDouble / n, peak))
            }
          }
        case _ => () // unknown chunk (LIST, fact, ...): skip
      }
      i += 8 + sz.toInt + (sz.toInt & 1) // RIFF word alignment
    }
    None
  }

  /** Synthesize a PCM WAV file (JVM side) — the test/fixture builder dual
    * of [[decodeWavJvm]], with an optional extra LIST chunk between fmt
    * and data so round-trips exercise the chunk skip.
    */
  private[graft] def wavFileJvm(samples: Array[Short], sampleRate: Int,
                                nChannels: Int,
                                listPayload: Array[Byte] = Array.empty): Array[Byte] = {
    require(listPayload.length % 2 == 0,
      "LIST payload must be word-aligned (pad odd payloads)")
    def le16b(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32b(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val dataSz = samples.length * 2
    val listSz = if (listPayload.isEmpty) 0 else 8 + listPayload.length
    val blockAlign = nChannels * 2
    val out = java.nio.ByteBuffer.allocate(44 + listSz + dataSz)
    out.put("RIFF".getBytes("US-ASCII")).put(le32b(36 + listSz + dataSz))
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).put(le32b(16))
      .put(le16b(1)).put(le16b(nChannels)).put(le32b(sampleRate))
      .put(le32b(sampleRate * blockAlign)).put(le16b(blockAlign)).put(le16b(16))
    if (listPayload.nonEmpty)
      out.put("LIST".getBytes("US-ASCII")).put(le32b(listPayload.length))
        .put(listPayload)
    out.put("data".getBytes("US-ASCII")).put(le32b(dataSz))
    samples.foreach(s => out.put(le16b(s & 0xffff)))
    out.array()
  }

  /** Batched REAL audio decode over payload rows — same grouped-iterator
    * shape as [[decodePpmBatched]]; non-WAV/unsupported rows flow through
    * as ok = false.
    */
  def decodeWavBatched(df: DataFrame, batchSize: Int = 64): DataFrame = {
    val sess = df.sparkSession
    import sess.implicits._
    df.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { case (id, bytes) =>
            decodeWavJvm(bytes) match {
              case Some(c) => (id, true, Some(c.nChannels.toLong),
                Some(c.sampleRate.toLong), Some(c.bitsPerSample.toLong),
                Some(c.nFrames.toLong), Some(c.meanAmp), Some(c.msAmp),
                Some(c.peakAmp.toLong))
              case None => (id, false, None, None, None, None, None, None, None)
            }
          }
        }
      }
      .toDF("doc_id", "ok", "n_channels", "sample_rate", "bits", "n_frames",
        "mean_amp", "ms_amp", "peak")
  }
}
