package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables._

/** One media object: opaque binary payload + typed metadata. The
  * payload is a REAL container format (BMP for images, RIFF/WAVE PCM
  * for audio), synthesized deterministically from `documents.text` so
  * the DuckDB oracle can replay the decoded values from the text. */
case class MediaRecord(doc_id: Long, payload: Array[Byte], format: String, n_bytes: Int)

/** Features a real image decode extracts per media object. */
case class MediaFeatures(doc_id: Long, width: Int, height: Int,
                         px_sum: Long, wsum: Long)

/** Multimodal column plumbing: binary payloads with typed metadata,
  * decoded batch-wise by REAL JDK codecs in executor-side partitions.
  *
  * The Spark-side shape is the production one — a typed
  * `Dataset[MediaRecord]` flowing through `mapPartitions`, with the
  * codec obtained once per partition so its setup cost amortizes over
  * the whole batch, exactly how an image/audio decode stage runs at
  * 100 TB (binary parquet columns partition-pruned by metadata, decode
  * embarrassingly parallel, no shuffle).
  *
  * The decode is REAL: mm1/mm3 parse an actual 24-bit BMP through
  * `javax.imageio` (header, bottom-up row order, BGR channel order all
  * handled by the JDK codec, not by us) and mm2 parses an actual
  * RIFF/WAVE PCM-16 payload through `javax.sound.sampled`. What stays
  * synthetic is only the ENCODER that builds the fixtures from
  * `documents.text` — a deterministic byte layout, which is what lets
  * DuckDB recompute every decoded feature from the text and verify the
  * full decode round trip (a header mis-parse, a flipped row order or
  * a swapped channel all change the expected sums).
  */
object Multimodal {

  /** Fixed image geometry: 16 px wide, 24 bpp ⇒ 48-byte rows (already
    * 4-byte aligned, so no BMP row padding) — text bytes become the
    * pixel data verbatim, zero-padded to whole rows. */
  private val ImgW = 16
  private val RowBytes = ImgW * 3

  /** Encode `data` as the pixel bytes of a 24-bit bottom-up BMP.
    * Payload byte k lands at pixel k/3 (BGR channel k%3) of PAYLOAD
    * row k/48, which the BMP convention displays as image row
    * h−1−k/48. */
  private[graft] def encodeBmp(data: Array[Byte]): Array[Byte] = {
    val h = math.max(1, (data.length + RowBytes - 1) / RowBytes)
    val pixBytes = RowBytes * h
    val buf = java.nio.ByteBuffer.allocate(54 + pixBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte)
    buf.putInt(54 + pixBytes).putInt(0).putInt(54)
    buf.putInt(40).putInt(ImgW).putInt(h)
    buf.putShort(1).putShort(24).putInt(0).putInt(pixBytes)
    buf.putInt(2835).putInt(2835).putInt(0).putInt(0)
    buf.put(data) // remainder stays zero (allocate zero-fills)
    buf.array()
  }

  /** Per-partition codec setup. Every decode input in this file is an
    * in-memory ByteArrayInputStream, so the ImageIO *disk* cache buys
    * nothing — each open stream would hold a FileCacheImageInputStream
    * temp file, and a leaked or merely still-open stream consumes a
    * descriptor + cache file. At 100 TB decode scale (billions of
    * frames) that exhausts the filesystem regardless of cluster size,
    * so we force memory-cached streams once per partition before
    * resolving the codec. Idempotent; executor-side because it runs
    * inside mapPartitions. */
  private def partitionReader(fmt: String): javax.imageio.ImageReader = {
    javax.imageio.ImageIO.setUseCache(false)
    javax.imageio.ImageIO.getImageReadersByFormatName(fmt).next()
  }

  private def partitionWriter(fmt: String): javax.imageio.ImageWriter = {
    javax.imageio.ImageIO.setUseCache(false)
    javax.imageio.ImageIO.getImageWritersByFormatName(fmt).next()
  }

  /** Wraps a partition's mapped iterator so every per-partition
    * ImageReader is dispose()d when the iterator exhausts — closing
    * only the per-row ImageInputStream leaks the readers' native
    * resources, one set per partition per query. (Spark always drains
    * task iterators, so exhaustion is the reliable hook.) */
  private def disposing[A](it: Iterator[A],
                           readers: javax.imageio.ImageReader*): Iterator[A] =
    cleanup(it) { readers.foreach(_.dispose()) }

  private def cleanup[A](it: Iterator[A])(f: => Unit): Iterator[A] =
    new Iterator[A] {
      private var done = false
      def hasNext: Boolean = {
        val h = it.hasNext
        if (!h && !done) { done = true; f }
        h
      }
      def next(): A = it.next()
    }

  private def mediaTable(s: SparkSession, d: String) = {
    import s.implicits._
    documents(s, d).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, t) =>
        val bytes = t.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        val p = encodeBmp(bytes)
        MediaRecord(id, p, "bmp", p.length)
      }
  }

  /** mm1: synthesize the image table and decode it batch-wise with the
    * JDK BMP codec; per-object features are computed from the DECODED
    * pixels (width/height from the parsed header; `px_sum` = Σ(r+g+b);
    * `wsum` = Σ (imageRow+1)·(3·b + 2·g + r) — the row- and channel-
    * weighted sum that flips if the decoder mishandles the bottom-up
    * row order or the BGR channel order, which is what makes the
    * oracle a real decode check). */
  def mm1MediaFeatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaTable(s, d).mapPartitions { it =>
      // codec resolved once per partition — the amortized-setup slot a
      // real pipeline uses for model/codec initialization
      val reader = partitionReader("bmp")
      disposing(it.map { r =>
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(r.payload))
        reader.setInput(iis)
        val img = reader.read(0)
        var pxSum = 0L; var wSum = 0L
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val rgb = img.getRGB(x, y)
            val rr = (rgb >> 16) & 0xff; val gg = (rgb >> 8) & 0xff; val bb = rgb & 0xff
            pxSum += rr + gg + bb
            wSum += (y + 1).toLong * (3 * bb + 2 * gg + rr)
            x += 1
          }
          y += 1
        }
        iis.close()
        MediaFeatures(r.doc_id, img.getWidth, img.getHeight, pxSum, wSum)
      }, reader)
    }.toDF()
      .orderBy(col("doc_id"))
  }

  /** The oracle replays the decode from the text (pure ASCII in this
    * corpus, so ord(char) == payload byte — asserted in PipelineSpec):
    * byte k (0-based) has channel weight 3−(k%3) (B,G,R → 3,2,1) and
    * image-row weight h − k/48 (bottom-up storage ⇒ imageRow+1 =
    * h − payloadRow). Zero padding contributes nothing to either sum. */
  val mm1Sql: String =
    """WITH d AS (
      |  SELECT doc_id, text, length(text) AS len,
      |         greatest(1, CAST(ceil(length(text) / 48.0) AS BIGINT)) AS h
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, i - 1 AS k, ord(substr(text, i, 1)) AS byte, h
      |  FROM d, unnest(generate_series(1, len)) AS u(i))
      |SELECT d.doc_id, 16 AS width, CAST(d.h AS INT) AS height,
      |  CAST(COALESCE(SUM(b.byte), 0) AS BIGINT) AS px_sum,
      |  CAST(COALESCE(SUM(b.byte * (3 - (b.k % 3)) * (b.h - b.k // 48)), 0) AS BIGINT) AS wsum
      |FROM d LEFT JOIN b ON b.doc_id = d.doc_id
      |GROUP BY d.doc_id, d.h ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------------------------- MM2
  /** Features a real audio decode extracts: format metadata from the
    * parsed RIFF header + windowed energy over the decoded samples. */
  case class AudioFeatures(doc_id: Long, sample_rate: Int, n_samples: Long,
                           n_windows: Int, peak_window: Long, peak_energy: Long)

  private val SampleRate = 8000
  private val WinSamples = 256

  /** Encode `data` as a RIFF/WAVE payload: PCM mono, 16-bit
    * little-endian, one sample per input byte (sample value = the byte
    * value, 0–127 for ASCII). */
  private[graft] def encodeWav(data: Array[Byte]): Array[Byte] = {
    val n = data.length
    val buf = java.nio.ByteBuffer.allocate(44 + 2 * n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes).putInt(36 + 2 * n).put("WAVE".getBytes)
    buf.put("fmt ".getBytes).putInt(16)
    buf.putShort(1).putShort(1).putInt(SampleRate).putInt(SampleRate * 2)
    buf.putShort(2).putShort(16)
    buf.put("data".getBytes).putInt(2 * n)
    var i = 0
    while (i < n) { buf.putShort(data(i).toShort); i += 1 }
    buf.array()
  }

  /** mm2: audio frame analysis on REAL decoded samples — the payload
    * goes through `javax.sound.sampled` (header parse, format
    * negotiation, PCM frame extraction), then fixed 256-sample windows
    * get an energy Σv² and the argmax window wins (first-wins ties) —
    * the frame-sampling shape of a video/audio pipeline with the JDK
    * codec standing where ffmpeg would. */
  def mm2FrameSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, t) =>
        val bytes = t.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        val p = encodeWav(bytes)
        MediaRecord(id, p, "wav", p.length)
      }
      .mapPartitions { it =>
        it.map { r =>
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.BufferedInputStream(new java.io.ByteArrayInputStream(r.payload)))
          val fmt = ais.getFormat
          val rate = fmt.getSampleRate.toInt
          val raw = ais.readAllBytes()
          ais.close()
          val n = raw.length / 2
          val nWin = math.max(1, (n + WinSamples - 1) / WinSamples)
          var peakW = 0L; var peakE = -1L
          var w = 0
          while (w < nWin) {
            var e = 0L; var i = w * WinSamples
            val end = math.min(n, (w + 1) * WinSamples)
            while (i < end) {
              // little-endian signed 16-bit PCM frame
              val v = ((raw(2 * i + 1) << 8) | (raw(2 * i) & 0xff)).toLong
              e += v * v; i += 1
            }
            if (e > peakE) { peakE = e; peakW = w }
            w += 1
          }
          AudioFeatures(r.doc_id, rate, n, nWin, peakW, math.max(peakE, 0L))
        }
      }.toDF()
      .orderBy(col("doc_id"))
  }

  /** LEFT JOIN against documents so a zero-length payload yields the
    * degenerate single empty window the Spark side emits. */
  val mm2Sql: String =
    s"""WITH b AS (
      |  SELECT doc_id, i, ord(substr(text, i, 1)) AS v
      |  FROM documents, unnest(generate_series(1, length(text))) AS u(i)),
      |w AS (
      |  SELECT doc_id, CAST(floor((i - 1) / $WinSamples.0) AS BIGINT) AS win,
      |         SUM(v * v) AS energy
      |  FROM b GROUP BY 1, 2),
      |ranked AS (
      |  SELECT doc_id, win, energy,
      |         COUNT(*) OVER (PARTITION BY doc_id) AS n_windows,
      |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY energy DESC, win) AS rn
      |  FROM w)
      |SELECT d.doc_id, $SampleRate AS sample_rate,
      |       CAST(length(d.text) AS BIGINT) AS n_samples,
      |       CAST(COALESCE(r.n_windows, 1) AS INT) AS n_windows,
      |       COALESCE(r.win, 0) AS peak_window,
      |       CAST(COALESCE(r.energy, 0) AS BIGINT) AS peak_energy
      |FROM documents d
      |LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r ON r.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------------------------- MM3
  /** mm3 output: decoded dims, resized dims, and the content hash of
    * the resized pixel stream. */
  case class ResizedMedia(doc_id: Long, width: Int, height: Int,
                          out_w: Int, out_h: Int, resized_md5: String)

  /** mm3: a REAL resize — decode the BMP (same JDK codec as mm1),
    * nearest-neighbor ×4 downsample in both dimensions (keep pixels
    * with x%4==0 ∧ y%4==0 in image coordinates), and hash the resized
    * pixel stream (row-major top-down, channels R,G,B as decimal CSV —
    * a text encoding so DuckDB's md5 can verify the exact output
    * pixels without binary-string plumbing). In a real pipeline the
    * resized binary is written back as a new column; hashing keeps the
    * oracle able to verify the exact bytes without storing them twice. */
  def mm3Resize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaTable(s, d).mapPartitions { it =>
      val reader = partitionReader("bmp")
      val md = java.security.MessageDigest.getInstance("MD5")
      disposing(it.map { r =>
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(r.payload))
        reader.setInput(iis)
        val img = reader.read(0)
        val sb = new StringBuilder
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val rgb = img.getRGB(x, y)
            if (sb.nonEmpty) sb.append(',')
            sb.append((rgb >> 16) & 0xff).append(',')
              .append((rgb >> 8) & 0xff).append(',').append(rgb & 0xff)
            x += 4
          }
          y += 4
        }
        iis.close()
        md.reset()
        val hex = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
          .map(b => f"${b & 0xff}%02x").mkString
        ResizedMedia(r.doc_id, img.getWidth, img.getHeight,
          (img.getWidth + 3) / 4, (img.getHeight + 3) / 4, hex)
      }, reader)
    }.toDF()
      .orderBy(col("doc_id"))
  }

  /** The oracle rebuilds the resized pixel stream from the text: kept
    * pixel (x, y) reads payload bytes k = 48·(h−1−y) + 3x + c — beyond
    * the text length they are zero padding — and emits channels in
    * R,G,B order (c = 2,1,0). */
  val mm3Sql: String =
    """WITH d AS (
      |  SELECT doc_id, text, length(text) AS len,
      |         greatest(1, CAST(ceil(length(text) / 48.0) AS BIGINT)) AS h
      |  FROM documents),
      |px AS (
      |  SELECT doc_id, text, len, h, y.y, x.x
      |  FROM d, unnest(generate_series(0, h - 1, 4)) AS y(y),
      |         unnest(generate_series(0, 15, 4)) AS x(x)),
      |v AS (
      |  SELECT doc_id, h, y, x,
      |    CASE WHEN 48*(h-1-y) + 3*x + 3 <= len
      |         THEN ord(substr(text, CAST(48*(h-1-y) + 3*x + 3 AS INT), 1)) ELSE 0 END AS r,
      |    CASE WHEN 48*(h-1-y) + 3*x + 2 <= len
      |         THEN ord(substr(text, CAST(48*(h-1-y) + 3*x + 2 AS INT), 1)) ELSE 0 END AS g,
      |    CASE WHEN 48*(h-1-y) + 3*x + 1 <= len
      |         THEN ord(substr(text, CAST(48*(h-1-y) + 3*x + 1 AS INT), 1)) ELSE 0 END AS b
      |  FROM px)
      |SELECT doc_id, 16 AS width, CAST(h AS INT) AS height,
      |       4 AS out_w, CAST(ceil(h / 4.0) AS INT) AS out_h,
      |       md5(string_agg(r || ',' || g || ',' || b, ',' ORDER BY y, x)) AS resized_md5
      |FROM v GROUP BY doc_id, h ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------- MM4
  /** mm4 output: mm1's decoded features plus the format that was
    * dispatched on — the oracle checks BOTH the routing and the decode. */
  case class MixedFeatures(doc_id: Long, format: String, width: Int, height: Int,
                           px_sum: Long, wsum: Long)

  /** Encode `data` as a PNG whose DECODED image is pixel-identical to
    * [[encodeBmp]]'s (payload byte k → pixel k/3, channel k%3 as B,G,R,
    * payload row k/48 shown as image row h−1−k/48). PNG is lossless, so
    * whatever the encoder's compression choices, the decode returns
    * these exact pixels — which is what lets the replay-from-text
    * oracle verify a second real codec with the same SQL shape. */
  private[graft] def encodePng(data: Array[Byte]): Array[Byte] = {
    val h = math.max(1, (data.length + RowBytes - 1) / RowBytes)
    val img = new java.awt.image.BufferedImage(
      ImgW, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      val base = RowBytes * (h - 1 - y)
      var x = 0
      while (x < ImgW) {
        def at(k: Int): Int = if (k < data.length) data(k) & 0xff else 0
        val k = base + 3 * x
        img.setRGB(x, y, (at(k + 2) << 16) | (at(k + 1) << 8) | at(k))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** mm4: MIXED-codec decode — the batch carries PNG payloads for even
    * doc_ids and BMP for odd ones, and each row dispatches on its
    * `format` column to the right JDK reader (both readers resolved
    * once per partition). This is the shape a real corpus has — one
    * binary column, many container formats — and the oracle pins both
    * halves: the emitted `format` must match the doc_id parity (the
    * routing) and the pixel sums must match the text replay (the
    * decode, per codec). */
  def mm4MixedDecode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, t) =>
        val bytes = t.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        val png = id % 2 == 0
        val p = if (png) encodePng(bytes) else encodeBmp(bytes)
        MediaRecord(id, p, if (png) "png" else "bmp", p.length)
      }
      .mapPartitions { it =>
        val readers = Map(
          "png" -> partitionReader("png"),
          "bmp" -> partitionReader("bmp"))
        disposing(it.map { r =>
          val iis = javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(r.payload))
          val reader = readers(r.format)
          reader.setInput(iis)
          val img = reader.read(0)
          var pxSum = 0L; var wSum = 0L
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              val rgb = img.getRGB(x, y)
              val rr = (rgb >> 16) & 0xff; val gg = (rgb >> 8) & 0xff; val bb = rgb & 0xff
              pxSum += rr + gg + bb
              wSum += (y + 1).toLong * (3 * bb + 2 * gg + rr)
              x += 1
            }
            y += 1
          }
          iis.close()
          MixedFeatures(r.doc_id, r.format, img.getWidth, img.getHeight, pxSum, wSum)
        }, readers.values.toSeq: _*)
      }.toDF()
      .orderBy(col("doc_id"))
  }

  /** mm1's replay plus the routing column: both codecs must land on the
    * same decoded image, so the pixel-sum SQL is shared; the `format`
    * value is recomputed from the parity rule and must match what the
    * Spark side actually dispatched on. */
  val mm4Sql: String =
    """WITH d AS (
      |  SELECT doc_id, text, length(text) AS len,
      |         greatest(1, CAST(ceil(length(text) / 48.0) AS BIGINT)) AS h
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, i - 1 AS k, ord(substr(text, i, 1)) AS byte, h
      |  FROM d, unnest(generate_series(1, len)) AS u(i))
      |SELECT d.doc_id,
      |  CASE WHEN d.doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS format,
      |  16 AS width, CAST(d.h AS INT) AS height,
      |  CAST(COALESCE(SUM(b.byte), 0) AS BIGINT) AS px_sum,
      |  CAST(COALESCE(SUM(b.byte * (3 - (b.k % 3)) * (b.h - b.k // 48)), 0) AS BIGINT) AS wsum
      |FROM d LEFT JOIN b ON b.doc_id = d.doc_id
      |GROUP BY d.doc_id, d.h ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------------------------- MM5
  /** mm5 output: mm2's decoded audio features plus the container format
    * the row dispatched on. */
  case class MixedAudioFeatures(doc_id: Long, format: String, sample_rate: Int,
                                n_samples: Long, n_windows: Int,
                                peak_window: Long, peak_energy: Long)

  /** Encode `data` as an AIFF payload carrying the SAME samples as
    * [[encodeWav]] (PCM mono 16-bit, one sample per byte) — but
    * big-endian, inside the FORM/AIFF container, written by the JDK's
    * own AIFF writer (header layout, 80-bit extended sample rate and
    * chunk bookkeeping all come from `javax.sound`, not from us). */
  private[graft] def encodeAiff(data: Array[Byte]): Array[Byte] = {
    val n = data.length
    val pcm = new Array[Byte](2 * n)
    var i = 0
    while (i < n) {
      // big-endian 16-bit: high byte first (values are 0–127 ASCII)
      pcm(2 * i) = 0; pcm(2 * i + 1) = data(i)
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
      SampleRate, 16, 1, 2, SampleRate, true)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.AIFF, bos)
    bos.toByteArray
  }

  /** mm5: MIXED-container audio decode — AIFF payloads (big-endian) for
    * even doc_ids, RIFF/WAVE (little-endian) for odd, each row parsed
    * by the JDK codec and its samples extracted honoring the format's
    * declared endianness. Both containers carry the same planted
    * samples, so mm2's replay-from-text oracle verifies the decode of
    * BOTH codecs with one SQL body — an endianness mix-up flips every
    * energy sum — while the emitted `format` column pins the routing. */
  def mm5AudioMixed(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, t) =>
        val bytes = t.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        val aiff = id % 2 == 0
        val p = if (aiff) encodeAiff(bytes) else encodeWav(bytes)
        MediaRecord(id, p, if (aiff) "aiff" else "wav", p.length)
      }
      .mapPartitions { it =>
        it.map { r =>
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.BufferedInputStream(new java.io.ByteArrayInputStream(r.payload)))
          val fmt = ais.getFormat
          val rate = fmt.getSampleRate.toInt
          val big = fmt.isBigEndian
          val raw = ais.readAllBytes()
          ais.close()
          val n = raw.length / 2
          val nWin = math.max(1, (n + WinSamples - 1) / WinSamples)
          var peakW = 0L; var peakE = -1L
          var w = 0
          while (w < nWin) {
            var e = 0L; var i = w * WinSamples
            val end = math.min(n, (w + 1) * WinSamples)
            while (i < end) {
              val v =
                if (big) ((raw(2 * i) << 8) | (raw(2 * i + 1) & 0xff)).toLong
                else ((raw(2 * i + 1) << 8) | (raw(2 * i) & 0xff)).toLong
              e += v * v; i += 1
            }
            if (e > peakE) { peakE = e; peakW = w }
            w += 1
          }
          MixedAudioFeatures(r.doc_id, r.format, rate, n, nWin, peakW,
            math.max(peakE, 0L))
        }
      }.toDF()
      .orderBy(col("doc_id"))
  }

  /** mm2's replay plus the routing column (aiff for even, wav for odd). */
  val mm5Sql: String =
    s"""WITH b AS (
      |  SELECT doc_id, i, ord(substr(text, i, 1)) AS v
      |  FROM documents, unnest(generate_series(1, length(text))) AS u(i)),
      |w AS (
      |  SELECT doc_id, CAST(floor((i - 1) / $WinSamples.0) AS BIGINT) AS win,
      |         SUM(v * v) AS energy
      |  FROM b GROUP BY 1, 2),
      |ranked AS (
      |  SELECT doc_id, win, energy,
      |         COUNT(*) OVER (PARTITION BY doc_id) AS n_windows,
      |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY energy DESC, win) AS rn
      |  FROM w)
      |SELECT d.doc_id,
      |       CASE WHEN d.doc_id % 2 = 0 THEN 'aiff' ELSE 'wav' END AS format,
      |       $SampleRate AS sample_rate,
      |       CAST(length(d.text) AS BIGINT) AS n_samples,
      |       CAST(COALESCE(r.n_windows, 1) AS INT) AS n_windows,
      |       COALESCE(r.win, 0) AS peak_window,
      |       CAST(COALESCE(r.energy, 0) AS BIGINT) AS peak_energy
      |FROM documents d
      |LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r ON r.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------------------------- MM6
  /** mm6 output: container metadata + feature sums over the SAMPLED
    * frames. */
  case class VideoFeatures(doc_id: Long, n_frames: Int, n_sampled: Int,
                           px_total: Long, w_total: Long)

  /** Frames sampled per container: every [[FrameStep]]-th frame,
    * starting at 0 — the strided frame-sampling a video feature
    * pipeline runs instead of decoding every frame. */
  private val FrameStep = 2

  /** Encode `data` as a tiny multi-frame video container: magic "GV01",
    * int32 frame count, int32 per-frame byte size, then `n` complete
    * BMP frames back-to-back — frame f's pixel data is the text bytes
    * brightness-shifted by +f (zero padding unshifted), so consecutive
    * frames differ the way consecutive video frames do and every
    * frame's expected sums are replayable from the text. */
  private[graft] def encodeVideo(data: Array[Byte], nFrames: Int): Array[Byte] = {
    val frames = (0 until nFrames).map { f =>
      val shifted = new Array[Byte](data.length)
      var i = 0
      while (i < data.length) { shifted(i) = (data(i) + f).toByte; i += 1 }
      encodeBmp(shifted)
    }
    val fb = frames.headOption.map(_.length).getOrElse(0)
    val buf = java.nio.ByteBuffer.allocate(12 + nFrames * fb)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("GV01".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    buf.putInt(nFrames).putInt(fb)
    frames.foreach(buf.put)
    buf.array()
  }

  /** mm6: strided frame sampling over a multi-frame container — the
    * video member of the decode family (images mm1/mm3/mm4, audio
    * mm2/mm5). The container parse (magic, frame count, frame size,
    * offsets) is the operator's own; each SAMPLED frame then goes
    * through the real JDK BMP codec, and the per-frame pixel features
    * (mm1's px/weighted sums) accumulate across sampled frames. Frame
    * counts vary per document (2 + doc_id % 3), so the sampler's
    * stride logic is exercised at every count. Decoding only sampled
    * frames is the point: at 100 TB the decode cost is
    * |sampled|/|frames| of the naive pipeline, and the container
    * slicing never copies unsampled bytes. */
  def mm6VideoFrames(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, t) =>
        val bytes = t.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        val n = 2 + (id % 3).toInt
        val p = encodeVideo(bytes, n)
        MediaRecord(id, p, "gv01", p.length)
      }
      .mapPartitions { it =>
        val reader = partitionReader("bmp")
        disposing(it.map { r =>
          val bb = java.nio.ByteBuffer.wrap(r.payload)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          val magic = new Array[Byte](4); bb.get(magic)
          require(new String(magic, "US-ASCII") == "GV01", "bad container magic")
          val nFrames = bb.getInt; val fb = bb.getInt
          var pxT = 0L; var wT = 0L; var sampled = 0
          var f = 0
          while (f < nFrames) {
            val iis = javax.imageio.ImageIO.createImageInputStream(
              new java.io.ByteArrayInputStream(r.payload, 12 + f * fb, fb))
            reader.setInput(iis)
            val img = reader.read(0)
            var y = 0
            while (y < img.getHeight) {
              var x = 0
              while (x < img.getWidth) {
                val rgb = img.getRGB(x, y)
                val rr = (rgb >> 16) & 0xff; val gg = (rgb >> 8) & 0xff; val bb2 = rgb & 0xff
                pxT += rr + gg + bb2
                wT += (y + 1).toLong * (3 * bb2 + 2 * gg + rr)
                x += 1
              }
              y += 1
            }
            iis.close()
            sampled += 1
            f += FrameStep
          }
          VideoFeatures(r.doc_id, nFrames, sampled, pxT, wT)
        }, reader)
      }.toDF()
      .orderBy(col("doc_id"))
  }

  /** Replay: sampled frames are {0} for 2-frame containers and {0, 2}
    * for 3/4-frame ones; frame f adds +f to every DATA byte (padding
    * stays zero), so px over sampled frames = n_sampled·px_sum +
    * len·Σf, and the weighted sum adds Σf times the unweighted-byte
    * weight mass C = Σ_k (3−k%3)(h−k/48). */
  val mm6Sql: String =
    """WITH d AS (
      |  SELECT doc_id, text, length(text) AS len,
      |         greatest(1, CAST(ceil(length(text) / 48.0) AS BIGINT)) AS h,
      |         CAST(2 + doc_id % 3 AS INT) AS n_frames,
      |         CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 2 END AS INT) AS n_sampled,
      |         CASE WHEN doc_id % 3 = 0 THEN 0 ELSE 2 END AS sum_f
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, i - 1 AS k, ord(substr(text, i, 1)) AS byte, h
      |  FROM d, unnest(generate_series(1, len)) AS u(i)),
      |agg AS (
      |  SELECT d.doc_id,
      |    COALESCE(SUM(b.byte), 0) AS px,
      |    COALESCE(SUM(b.byte * (3 - (b.k % 3)) * (b.h - b.k // 48)), 0) AS ws,
      |    COALESCE(SUM((3 - (b.k % 3)) * (b.h - b.k // 48)), 0) AS c
      |  FROM d LEFT JOIN b ON b.doc_id = d.doc_id
      |  GROUP BY d.doc_id)
      |SELECT d.doc_id, d.n_frames, d.n_sampled,
      |  CAST(d.n_sampled * a.px + d.len * d.sum_f AS BIGINT) AS px_total,
      |  CAST(d.n_sampled * a.ws + a.c * d.sum_f AS BIGINT) AS w_total
      |FROM d JOIN agg a ON a.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------------------------- MM7
  /** mm7 output: decoded geometry plus the mean absolute per-channel
    * reconstruction error of the LOSSY round trip, and the tolerance
    * verdict the driver gate enforces. */
  case class JpegFeatures(doc_id: Long, format: String, width: Int,
                          height: Int, mae4: Double, pass: Boolean)

  /** mm7: JPEG — the LOSSY codec family real corpora are mostly made
    * of (mm1–mm6 are all lossless, which is what made their
    * replay-from-text oracles exact). Each document's text bytes are
    * planted as GRAYSCALE pixels (byte k → pixel (k mod 16, k/16),
    * r = g = b = byte; 16-wide rows, top-down), encoded with the JDK's
    * own JPEG writer at explicit quality 0.95, then decoded back with
    * the JDK JPEG reader. Grayscale planting is deliberate: ASCII byte
    * noise in the CHROMA channels meets JPEG's 4:2:0 subsampling head
    * on (measured MAE ≈ 18–22 — indistinguishable from a broken
    * decode, which sits at ≈ 31 for byte noise), while a gray plant
    * puts all the signal in luma, where q=0.95 DCT error stays ≈ 2.
    *
    * Lossy breaks hash replay BY DESIGN, so the gate is a TOLERANCE
    * invariant instead (the `no_oracle`+`pass` pattern the matrix
    * family uses): per document, decoded geometry must be exact and
    * the mean absolute per-channel error vs the planted pixels must
    * stay ≤ [[JpegMae]] — a real decode-path bug (row order, offset,
    * partial decode) compares noise against noise and blows the MAE to
    * ~31 levels, 5× the gate. Writer and reader are resolved once per
    * partition and disposed on exhaustion. */
  private val JpegMae = 6.0

  def mm7JpegDecode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val writer = partitionWriter("jpeg")
        val reader = partitionReader("jpeg")
        cleanup(it.map { case (id, t) =>
          val data = t.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
          val h = math.max(1, (data.length + ImgW - 1) / ImgW)
          val img = new java.awt.image.BufferedImage(
            ImgW, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val planted = new Array[Int](ImgW * h)
          var p = 0
          while (p < planted.length) {
            if (p < data.length) planted(p) = data(p) & 0xff
            img.setRGB(p % ImgW, p / ImgW,
              (planted(p) << 16) | (planted(p) << 8) | planted(p))
            p += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
          writer.setOutput(ios)
          val wp = writer.getDefaultWriteParam
          wp.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
          wp.setCompressionQuality(0.95f)
          writer.write(null, new javax.imageio.IIOImage(img, null, null), wp)
          ios.close()
          val payload = bos.toByteArray
          val iis = javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(payload))
          reader.setInput(iis)
          val dec = try reader.read(0) finally iis.close()
          var errSum = 0L
          var q = 0
          while (q < ImgW * h && q < dec.getWidth * dec.getHeight) {
            val rgb = dec.getRGB(q % ImgW, q / ImgW)
            errSum += math.abs(((rgb >> 16) & 0xff) - planted(q)) +
              math.abs(((rgb >> 8) & 0xff) - planted(q)) +
              math.abs((rgb & 0xff) - planted(q))
            q += 1
          }
          val mae = errSum.toDouble / (3.0 * ImgW * h)
          JpegFeatures(id, "jpeg", dec.getWidth, dec.getHeight,
            math.round(mae * 1e4) / 1e4,
            dec.getWidth == ImgW && dec.getHeight == h && mae <= JpegMae)
        }) { writer.dispose(); reader.dispose() }
      }.toDF()
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------- MM8
  /** mm8 output: decoded length, the planted and detected tone, the
    * tone-to-runner-up power ratio (rounded), and the detection verdict
    * the driver gate enforces. */
  case class SpectralFeatures(doc_id: Long, n_samples: Int, planted_hz: Int,
                              detected_hz: Int, ratio4: Double, pass: Boolean)

  /** mm8 analysis length (samples) and candidate tone set. 2048 points
    * at 8 kHz puts the bin width at 8000/2048 = 3.90625 Hz; every
    * candidate is an integer multiple (500 Hz = bin 128), so each tone
    * sits exactly ON a DFT bin and Goertzel at the planted frequency
    * captures the full tone power. */
  private val SpectralN = 2048
  private val SpectralTones = Array(500, 1000, 1500, 2000, 2500, 3000, 3500)
  private val ToneAmp = 6000.0

  /** [[encodeWav]]'s container with arbitrary 16-bit samples (that one
    * plants one byte per sample; mm8 needs a full-range waveform). */
  private[graft] def encodeWav16(samples: Array[Short]): Array[Byte] = {
    val n = samples.length
    val buf = java.nio.ByteBuffer.allocate(44 + 2 * n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes).putInt(36 + 2 * n).put("WAVE".getBytes)
    buf.put("fmt ".getBytes).putInt(16)
    buf.putShort(1).putShort(1).putInt(SampleRate).putInt(SampleRate * 2)
    buf.putShort(2).putShort(16)
    buf.put("data".getBytes).putInt(2 * n)
    var i = 0
    while (i < n) { buf.putShort(samples(i)); i += 1 }
    buf.array()
  }

  /** mm8: SPECTRAL feature extraction — the audio analog of mm7's
    * tolerance gate. Each document gets a synthetic 2048-sample WAV
    * carrying a doc-keyed pure tone (amplitude 6000, one of
    * [[SpectralTones]]) plus text-derived byte noise (±~500), the JDK
    * codec decodes it back, and a Goertzel filter bank over the
    * candidate tones picks the dominant one — the
    * language-ID/tone-ID/music-fingerprint shape of an audio pipeline
    * (a filter bank over decoded PCM), with detection correctness as
    * the gate instead of a hash (float spectral power has no exact SQL
    * twin).
    *
    * The gate is real: a decode-path bug — endianness flip, header
    * offset, truncated frames — destroys the sinusoid (a byte-swapped
    * sine is not a sine), detection degenerates and `pass` fails. An
    * honest decode keeps the tone ≥ ~40× the worst text-harmonic
    * runner-up (noise power concentrates on the text's cycle
    * harmonics; amplitude bounds keep that below 1/10 of the tone for
    * any text), so the ≥10× gate has margin on both sides. Goertzel is
    * O(n) per candidate with three registers of state — per-partition
    * streamable at any corpus size, the reason it beats a full FFT
    * here (7 bins wanted, not 1024). */
  def mm8AudioSpectral(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, t) =>
        val f = SpectralTones((id % SpectralTones.length).toInt)
        val bytes = t.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        val samples = new Array[Short](SpectralN)
        var i = 0
        while (i < SpectralN) {
          val tone = ToneAmp * math.sin(2 * math.Pi * f * i / SampleRate)
          val noise =
            if (bytes.nonEmpty) ((bytes(i % bytes.length) & 0xff) - 64) * 8
            else 0
          val v = math.rint(tone).toInt + noise
          samples(i) = math.max(-32768, math.min(32767, v)).toShort
          i += 1
        }
        val p = encodeWav16(samples)
        MediaRecord(id, p, "wav", p.length)
      }
      .mapPartitions { it =>
        it.map { r =>
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.BufferedInputStream(
              new java.io.ByteArrayInputStream(r.payload)))
          val raw = ais.readAllBytes()
          ais.close()
          val n = raw.length / 2
          val power = new Array[Double](SpectralTones.length)
          var c = 0
          while (c < SpectralTones.length) {
            val coeff = 2.0 * math.cos(2 * math.Pi * SpectralTones(c) / SampleRate)
            var s1 = 0.0; var s2 = 0.0
            var i = 0
            while (i < n) {
              // little-endian signed 16-bit PCM frame, as mm2
              val v = ((raw(2 * i + 1) << 8) | (raw(2 * i) & 0xff)).toDouble
              val s0 = v + coeff * s1 - s2
              s2 = s1; s1 = s0
              i += 1
            }
            power(c) = s1 * s1 + s2 * s2 - coeff * s1 * s2
            c += 1
          }
          val best = power.indices.maxBy(power)
          val runnerUp = power.indices.filter(_ != best).map(power).max
          val ratio =
            if (runnerUp > 0) math.min(power(best) / runnerUp, 1e6)
            else 1e6
          val planted = SpectralTones((r.doc_id % SpectralTones.length).toInt)
          SpectralFeatures(r.doc_id, n, planted, SpectralTones(best),
            math.round(ratio * 1e4) / 1e4,
            SpectralTones(best) == planted && n == SpectralN && ratio >= 10.0)
        }
      }.toDF()
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------- MM9
  /** One image's 64-bit perceptual fingerprint. */
  case class ImageHash(doc_id: Long, dhash: Long)

  /** mm9's completeness audit is capped to this doc_id prefix: the
    * brute-force pair scan is the AUDIT, not the serving path (p3/p4's
    * contract applied to images), and a fixed-size audit keeps the
    * query's scale shape honest — banding is data-independent, so
    * auditing a bounded subset validates the mechanism. */
  private val PHashAuditCap = 4096L

  /** mm9: PERCEPTUAL near-duplicate detection over decoded images — the
    * multimodal member of the dedup family (p1 shingles text, p2
    * SimHashes words, mm9 dHashes pixels). Every payload decodes
    * through the real JDK BMP codec into a 9×8 nearest-neighbor
    * grayscale grid whose horizontal gradient signs pack into a 64-bit
    * dHash — the classic perceptual fingerprint that survives
    * recompression and ±small pixel noise, which byte-level hashing
    * (x1/t4) cannot.
    *
    * Pairing is p2's banded shape verbatim: 4×16-bit bands, candidates
    * share any band, exact Hamming verify ≤ 6 on the candidates only.
    * Pigeonhole makes banding COMPLETE for distance ≤ 3 (4 bands can't
    * all differ), and that completeness is the in-query gate
    * (`complete_ok`, driver-enforced): a brute-force pair scan over the
    * audit prefix must find NO d≤3 pair the banded join missed — a
    * banding/shift/sign bug fails the round's correctness gate, not
    * just a spec.
    *
    * Output is one row per document (p6's always-emitting shape):
    * fingerprint hex, mate count, best mate and its distance (−1 when
    * novel).
    *
    * Scale: the fingerprint pass maps 100 TB of pixels to 8 BYTES per
    * document with no shuffle (codec per partition, embarrassingly
    * parallel); everything downstream — the (band, sig) bucket join,
    * the per-doc aggregate — runs on the 8-byte frame, so the dedup
    * cost is independent of image size; the O(n²) audit stays pinned
    * to the [[PHashAuditCap]] prefix. */
  /** The dHash kernel over a BMP MediaRecord dataset — factored so the
    * batch dedup (mm9), the durable banded artifact build and the
    * probe side (mm14) all run the SAME decode+fingerprint pass. */
  private def dhashFrame(media: org.apache.spark.sql.Dataset[MediaRecord])
      : DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    media.mapPartitions { it =>
      val reader = partitionReader("bmp")
      disposing(it.map { r =>
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(r.payload))
        reader.setInput(iis)
        val img = reader.read(0)
        val w = img.getWidth; val h = img.getHeight
        var bits = 0L
        var row = 0
        while (row < 8) {
          val y = row * h / 8
          var prev = 0; var c = 0
          while (c <= 8) {
            val x = c * w / 9
            val rgb = img.getRGB(x, y)
            val gray = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
            if (c > 0) bits = (bits << 1) | (if (prev > gray) 1L else 0L)
            prev = gray
            c += 1
          }
          row += 1
        }
        iis.close()
        ImageHash(r.doc_id, bits)
      }, reader)
    }.toDF()
  }

  /** Image corpus at a BRIGHTNESS shift: every text byte +`brightness`
    * before BMP encoding. ASCII payload bytes are 32..126, so +64
    * stays inside the unsigned byte range (96..190) with no clipping,
    * and padding zeros stay zero on both sides of every comparison —
    * dHash's gradient SIGNS are exactly brightness-invariant, the
    * image analog of mm11's Goertzel 2×-gain invariance. */
  private def imageMedia(docs: DataFrame, brightness: Int)
      : org.apache.spark.sql.Dataset[MediaRecord] = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, t) =>
        val bytes = t.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
          .map(b => (b + brightness).toByte)
        val p = encodeBmp(bytes)
        MediaRecord(id, p, "bmp", p.length)
      }
  }

  /** [[dhashFrame]] over the unshifted corpus, exposed for the
    * artifact-identity spec (the durable banded store must equal a
    * fresh codec pass). */
  private[graft] def mm9HashesForSpec(s: SparkSession, d: String): DataFrame =
    dhashFrame(mediaTable(s, d))

  def mm9PerceptualDedup(s: SparkSession, d: String): DataFrame = {
    // 16 bytes/doc — materialized once, feeds the band join, the
    // audit, and the output join (M15's iterative hygiene)
    val hashes = dhashFrame(mediaTable(s, d)).localCheckpoint(true)
    val (verified, missed) = bandedVerify(hashes, "dhash")
    mateSummary(hashes, "dhash", "dhash_hex", verified, missed)
  }

  /** The banded pairing + completeness audit over any 64-bit
    * fingerprint frame — shared by mm9 (image dHash) and mm10 (audio
    * energy-delta fingerprint): 4×16-bit bands, candidates share any
    * band, exact Hamming verify ≤ 6 on candidates only; pigeonhole
    * makes banding COMPLETE for d ≤ 3, and the capped brute-force
    * audit counts any d≤3 pair the banded join missed (a miss is an
    * implementation bug — the caller turns it into the driver-enforced
    * `complete_ok` gate). Returns (verified pairs, missed count). */
  private def bandedVerify(hashes: DataFrame, fp: String): (DataFrame, Long) = {
    val bandCols = (0 until 4).map(b => struct(lit(b).as("band"),
      shiftrightunsigned(col(fp), b * 16).bitwiseAND(lit(0xFFFFL)).as("sig")))
    val bands = hashes.select(col("doc_id"), col(fp),
        explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col(fp), col("bk.band"), col("bk.sig"))
    val verified = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"),
        col(s"a.$fp").as("ha"), col(s"b.$fp").as("hb"))
      .distinct()
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("hamming") <= 6)
      .select(col("ida"), col("idb"), col("hamming"))
      .localCheckpoint(true)
    val audited = hashes.filter(col("doc_id") < PHashAuditCap)
    val brute = audited.as("a")
      .join(audited.as("b"), col("a.doc_id") < col("b.doc_id"))
      .withColumn("hamming", bit_count(col(s"a.$fp").bitwiseXOR(col(s"b.$fp"))))
      .filter(col("hamming") <= 3)
      .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
    val missed = brute.join(verified, Seq("ida", "idb"), "left_anti").count()
    (verified, missed)
  }

  /** One row per document (p6's always-emitting shape): fingerprint
    * hex, mate count, best mate and distance (−1 when novel), plus the
    * `complete_ok` audit verdict. */
  private def mateSummary(hashes: DataFrame, fp: String, hexName: String,
                          verified: DataFrame, missed: Long): DataFrame = {
    val sym = verified
      .select(col("ida").as("doc_id"), col("idb").as("mate"), col("hamming"))
      .unionByName(verified
        .select(col("idb").as("doc_id"), col("ida").as("mate"), col("hamming")))
    // hex() drops leading zeros — lpad to the full 16 nibbles
    hashes.select(col("doc_id"),
        lpad(lower(hex(col(fp))), 16, "0").as(hexName))
      .join(sym.groupBy(col("doc_id")).agg(
          count(lit(1)).cast("int").as("n_mates"),
          min(struct(col("hamming"), col("mate"))).as("best")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col(hexName),
        coalesce(col("n_mates"), lit(0)).as("n_mates"),
        coalesce(col("best.mate"), lit(-1L)).as("best_mate"),
        coalesce(col("best.hamming"), lit(-1)).as("best_hamming"))
      .withColumn("complete_ok", lit(missed == 0L))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------- MM10
  /** One audio clip's 64-bit energy-delta fingerprint. */
  case class AudioHash(doc_id: Long, afp: Long)

  /** mm10: acoustic near-duplicate detection over DECODED audio — the
    * audio member of the perceptual-dedup family (p1 shingles text, p2
    * SimHashes words, mm9 dHashes pixels, mm10 fingerprints PCM). Each
    * document's synthetic WAV carries a TEXT-derived waveform (content
    * decides the audio — two docs with the same text are the same
    * recording), decoded through the real JDK audio codec; the
    * fingerprint is the chromaprint shape scaled to 64 bits: 17 frames
    * × 4 Goertzel band energies, each bit the SIGN of the energy DELTA
    * between consecutive frames in a band (16 deltas × 4 bands) —
    * robust to global gain and DC the way dHash is to brightness.
    *
    * Pairing, verification and the completeness audit are
    * [[bandedVerify]] verbatim (the mm9 machinery over a different
    * modality's 8 bytes), with the same driver-enforced `complete_ok`
    * pigeonhole gate.
    *
    * Scale: 100 TB of audio → 8 bytes/doc in one codec-per-partition
    * pass with no shuffle; everything downstream runs on the 8-byte
    * frame; the O(n²) audit stays pinned to the capped prefix. */
  /** The mm10 fingerprint pass over a (doc_id, text) frame: synthetic
    * WAV → JDK codec decode → 17-frame × 4-band Goertzel energies →
    * 64-bit energy-delta-sign fingerprint. `gain` scales the synthetic
    * samples (×2 stays inside 16-bit range): the fingerprint is
    * EXACTLY gain-invariant — Goertzel is linear so energies scale by
    * gain² (power-of-2 scaling is exact in IEEE arithmetic), and the
    * delta SIGNS don't move — which is what mm11's probe gate
    * exercises. */
  private def audioHashes(docs: DataFrame, gain: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val frames = 17
    val frameLen = SpectralN / frames // 120 samples per frame
    val bandsHz = Array(500, 1500, 2500, 3500)
    docs.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, t) =>
        // content-keyed waveform: the text bytes ARE the signal
        val bytes = t.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        val samples = new Array[Short](SpectralN)
        var i = 0
        while (i < SpectralN) {
          val v =
            (if (bytes.nonEmpty) (((bytes(i % bytes.length) & 0xff) - 64) * 48
              + ((bytes((i / 3) % bytes.length) & 0xff) - 64) * 16)
            else 0) * gain
          samples(i) = math.max(-32768, math.min(32767, v)).toShort
          i += 1
        }
        val p = encodeWav16(samples)
        MediaRecord(id, p, "wav", p.length)
      }
      .mapPartitions { it =>
        it.map { r =>
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.BufferedInputStream(
              new java.io.ByteArrayInputStream(r.payload)))
          val raw = ais.readAllBytes()
          ais.close()
          val n = raw.length / 2
          // per-frame Goertzel energy over the 4 bands
          val energy = Array.ofDim[Double](frames, bandsHz.length)
          var f = 0
          while (f < frames) {
            var b = 0
            while (b < bandsHz.length) {
              val coeff = 2.0 * math.cos(2 * math.Pi * bandsHz(b) / SampleRate)
              var s1 = 0.0; var s2 = 0.0
              var i = f * frameLen
              val end = math.min((f + 1) * frameLen, n)
              while (i < end) {
                val v = ((raw(2 * i + 1) << 8) | (raw(2 * i) & 0xff)).toDouble
                val s0 = v + coeff * s1 - s2
                s2 = s1; s1 = s0
                i += 1
              }
              energy(f)(b) = s1 * s1 + s2 * s2 - coeff * s1 * s2
              b += 1
            }
            f += 1
          }
          var bits = 0L
          var ff = 1
          while (ff < frames) {
            var b = 0
            while (b < bandsHz.length) {
              bits = (bits << 1) |
                (if (energy(ff)(b) > energy(ff - 1)(b)) 1L else 0L)
              b += 1
            }
            ff += 1
          }
          AudioHash(r.doc_id, bits)
        }
      }.toDF()
  }

  /** [[audioHashes]] at gain 1, exposed for the artifact-identity
    * spec (the durable banded store must equal a fresh codec pass). */
  private[graft] def mm10HashesForSpec(s: SparkSession, d: String): DataFrame =
    audioHashes(documents(s, d), gain = 1)

  def mm10AudioFingerprint(s: SparkSession, d: String): DataFrame = {
    val hashes = audioHashes(documents(s, d), gain = 1).localCheckpoint(true)
    val (verified, missed) = bandedVerify(hashes, "afp")
    mateSummary(hashes, "afp", "afp_hex", verified, missed)
  }

  // ------------------------------------------------------------- MM11
  /** mm11: QUERY-BY-FINGERPRINT audio retrieval — the probe side of
    * the perceptual family (mm10 builds/dedups the fingerprint frame;
    * mm11 serves "which recording is this clip?" lookups against it,
    * the Shazam-shaped operation): each query is the first
    * `MmNQueries` documents' audio RE-RECORDED AT 2× GAIN, and must
    * come back as its source document via the banded (band, sig)
    * lookup — never a corpus-wide Hamming scan.
    *
    * The 2× gain is the acoustically-honest perturbation the
    * fingerprint is DESIGNED to survive: Goertzel energies scale by
    * gain² (linear filter; power-of-2 scaling is exact in IEEE), so
    * every energy-delta sign — hence the fingerprint — is bit-equal,
    * and the probe must land hamming = 0 on its source. Gates
    * (driver-enforced): `match_ok` — the best hit has hamming 0;
    * `self_ok` — the source doc itself is among the hamming-0 hits.
    *
    * Scale (round 15): the fingerprint frame is a DURABLE banded
    * artifact ([[audioIndexPath]]) built once at ingest — the serve
    * path decodes only the query clips and joins \|queries\|·4 band
    * keys against the (band, sig)-sorted store, a row-group-pruned
    * point read; the corpus is never re-decoded and never
    * Hamming-scanned. (Pre-artifact, the serve re-ran the corpus
    * codec pass and its honest decade was linear — BASELINE round-15;
    * the artifact is what turns mm11 into the audio analog of the
    * vector family's index serving.) */
  private val MmNQueries = 10

  /** Content-version fingerprint of the DOCUMENTS table (the audio
    * corpus's carrier): [[graft.FsUtil.fingerprint]] of
    * documents.parquet under its own layout-version string. */
  private def docsFingerprint(d: String): String =
    graft.FsUtil.fingerprint(new java.io.File(d, "documents.parquet"), "graft-audio-v1")

  /** 4×16-bit band keys of a 64-bit fingerprint column — shared by the
    * durable-index build, the serve path, and the identity spec. */
  private[graft] def bandFrameOf(df: DataFrame, idCol: String,
                                 fp: String): DataFrame = {
    val bandCols = (0 until 4).map(b => struct(lit(b).as("band"),
      shiftrightunsigned(col(fp), b * 16).bitwiseAND(lit(0xFFFFL)).as("sig")))
    df.select(col(idCol), col(fp), explode(array(bandCols: _*)).as("bk"))
      .select(col(idCol), col(fp), col("bk.band"), col("bk.sig"))
  }

  /** DURABLE banded audio-fingerprint artifact (round-15 refinement #4
    * closed in-round): mm10's one codec pass, persisted fingerprint-
    * keyed like the vector indexes (s7's discipline) so mm11's serve
    * never re-decodes the corpus. Layout: `bands/` holds the exploded
    * (band, sig, doc_id, afp) frame range-partitioned AND sorted on
    * (band, sig) — a probe's ≤ 4·|queries| band keys prune to row
    * groups by min/max stats, the same point-read shape as the graph
    * adjacency fetch. Published by [[graft.FsUtil.publishDir]];
    * building is ingest work
    * ([[graft.operators.Similarity.ensureIndexes]] wires it into the
    * bench warmup). Memoized per (session, (corpus dir, kind)). */
  private[graft] val bandedIdxMemo = new graft.FsUtil.SessionMemo[(String, String), String]

  /** Shared builder for durable banded fingerprint artifacts (audio
    * `afp`, image `dhash`): fingerprint-keyed dir, bands
    * range-partitioned AND sorted on (band, sig) so a probe's pushed
    * key filters prune to row groups. */
  private def bandedIdxPath(s: SparkSession, d: String, kind: String)
                           (build: => DataFrame): String =
    bandedIdxMemo.getOrElseUpdate((s, (d, kind)), {
      val dir = new java.io.File(graft.operators.Similarity.indexRoot,
        s"graft-$kind-${docsFingerprint(d)}")
      graft.FsUtil.publishDir(dir)(_ => Some(())) { tmp =>
        build
          .repartitionByRange(col("band"), col("sig"))
          .sortWithinPartitions("band", "sig")
          .write.mode("overwrite").parquet(s"${tmp.getAbsolutePath}/bands")
      }._1
    })

  private[graft] def audioIndexPath(s: SparkSession, d: String): String =
    bandedIdxPath(s, d, "audio")(
      bandFrameOf(audioHashes(documents(s, d), gain = 1), "doc_id", "afp"))

  /** Durable banded IMAGE-fingerprint artifact — mm10/mm11's discipline
    * applied to mm9's dHash frame (round-15 missing #2): one codec pass
    * at ingest, probed forever by mm14. */
  private[graft] def imageIndexPath(s: SparkSession, d: String): String =
    bandedIdxPath(s, d, "image")(
      bandFrameOf(dhashFrame(imageMedia(documents(s, d), brightness = 0)),
        "doc_id", "dhash"))

  /** Shared banded key-pushed probe: a (query_id, qfp) query frame
    * against a durable (band, sig)-sorted store whose fingerprint
    * column is `storeFp`. A broadcast hash join does NOT push its keys
    * into the parquet scan, so the sorted store would be read in full
    * on every probe (corpus-linear at 4 rows/doc). The query band keys
    * are driver-bounded (≤ 4·MmNQueries), so collect them and push an
    * EXPLICIT per-band sig filter — that is what parquet min/max
    * row-group stats can prune against, making the probe a point read
    * of the sorted store at any corpus size. */
  private def bandedProbe(s: SparkSession, bandsPath: String,
                          queries0: DataFrame, storeFp: String): DataFrame = {
    val queries = queries0
      .localCheckpoint(true) // consumed twice: key collect + band join
    val qb = broadcast(bandFrameOf(queries, "query_id", "qfp"))
    val qKeys = qb.select(col("band"), col("sig")).distinct()
      .collect() // bounded: ≤ 4·MmNQueries distinct band keys
      .map(r => (r.getInt(0), r.getLong(1)))
      .groupBy(_._1).toSeq.sortBy(_._1)
    val keyPred = qKeys.map { case (b, ks) =>
      col("band") === b && col("sig").isin(ks.map(_._2).toSeq: _*)
    }.reduceOption(_ || _).getOrElse(lit(false))
    val ib = s.read.parquet(bandsPath).filter(keyPred)
    val cands = qb.join(ib, Seq("band", "sig"))
      .select(col("query_id"), col("doc_id"), col("qfp"),
        col(storeFp).as("sfp"))
      .distinct()
      .withColumn("hamming", bit_count(col("qfp").bitwiseXOR(col("sfp"))))
      .filter(col("hamming") <= 6)
    val agg = cands.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_candidates"),
        min(struct(col("hamming"), col("doc_id"))).as("best"),
        max(col("doc_id") === col("query_id") && col("hamming") === 0)
          .as("found_self"))
    // left from the query frame: a query with ZERO candidates must
    // surface as a false gate row, not silently vanish from the output
    queries.select(col("query_id")).join(agg, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("best.doc_id"), lit(-1L)).as("best_mate"),
        coalesce(col("best.hamming"), lit(-1)).as("best_hamming"),
        coalesce(col("best.hamming") === 0, lit(false)).as("match_ok"),
        coalesce(col("found_self"), lit(false)).as("self_ok"))
      .orderBy(col("query_id"))
  }

  def mm11AudioProbe(s: SparkSession, d: String): DataFrame = {
    // serve side: the corpus codec pass is GONE — fingerprints come
    // from the durable banded artifact; only the ≤ MmNQueries query
    // clips are decoded (pushed-down doc_id filter)
    val queries = audioHashes(
      documents(s, d).filter(col("doc_id") < MmNQueries), gain = 2)
      .withColumnRenamed("doc_id", "query_id")
      .withColumnRenamed("afp", "qfp")
    bandedProbe(s, s"${audioIndexPath(s, d)}/bands", queries, "afp")
  }

  // ------------------------------------------------------------- MM14
  /** mm14: QUERY-BY-IMAGE retrieval — mm11's probe symmetry for the
    * image perceptual family (round-15 missing #2): mm9 builds/dedups
    * the dHash frame, mm14 serves "which image is this?" lookups
    * against the durable banded artifact ([[imageIndexPath]], built at
    * ingest). Each query is one of the first `MmNQueries` documents'
    * images RE-ENCODED AT +64 BRIGHTNESS — the perturbation dHash is
    * DESIGNED to survive (gradient signs compare same-shifted grays;
    * no clipping on ASCII payloads — see [[imageMedia]]) the way
    * mm11's 2× gain is Goertzel-invariant — and must come back as its
    * source document at hamming 0 via the banded (band, sig) point
    * read. Gates (driver-enforced): `match_ok`, `self_ok` — mm11's
    * exactly. Only the query images are decoded; the corpus is never
    * re-decoded and never Hamming-scanned. */
  def mm14ImageProbe(s: SparkSession, d: String): DataFrame = {
    val queries = dhashFrame(imageMedia(
        documents(s, d).filter(col("doc_id") < MmNQueries), brightness = 64))
      .withColumnRenamed("doc_id", "query_id")
      .withColumnRenamed("dhash", "qfp")
    bandedProbe(s, s"${imageIndexPath(s, d)}/bands", queries, "dhash")
  }

  // ------------------------------------------------------------- MM12
  /** mm12 output row: planted vs detected cut + the diff evidence. */
  case class SceneCut(doc_id: Long, n_frames: Long, cut_planted: Long,
                      cut_detected: Long, max_diff: Long, runner_diff: Long,
                      cut_ok: Boolean, margin_ok: Boolean)

  /** Encode a video with a PLANTED scene cut at frame index `cut`:
    * frames f < cut carry the text bytes shifted +f (mm6's smooth
    * intra-scene motion), frames f ≥ cut carry the INVERTED bytes
    * (255 − b) shifted +f — a hard content change. The adjacent-frame
    * channel difference is then exactly replayable from the text:
    * within a scene Σ\|Δ\| = len (every text byte moves by 1, padding
    * still), across the cut Σ\|Δ\| = Σ\|256 − 2b\| ≥ 4·len for ASCII —
    * so the boundary provably dominates every within-scene pair. */
  private[graft] def encodeCutVideo(data: Array[Byte], nFrames: Int,
                                    cut: Int): Array[Byte] = {
    val frames = (0 until nFrames).map { f =>
      val out = new Array[Byte](data.length)
      var i = 0
      while (i < data.length) {
        val b = if (f < cut) data(i).toInt else 255 - data(i).toInt
        out(i) = (b + f).toByte
        i += 1
      }
      encodeBmp(out)
    }
    val fb = frames.headOption.map(_.length).getOrElse(0)
    val buf = java.nio.ByteBuffer.allocate(12 + nFrames * fb)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("GV01".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    buf.putInt(nFrames).putInt(fb)
    frames.foreach(buf.put)
    buf.array()
  }

  /** mm12: SCENE-CUT detection — the shot-segmentation step a video
    * training pipeline runs before frame sampling (mm6 samples frames
    * blindly; mm12 finds the shot boundaries so sampling can be
    * per-shot). Consecutive decoded frames are diffed channel-wise;
    * the boundary with the maximum total absolute difference is the
    * detected cut, gated against the planted one (`cut_ok`) and
    * against ambiguity (`margin_ok`: the winning diff must be ≥ 2× the
    * runner-up — for this construction the true boundary is provably
    * ≥ 4× every within-scene pair, so a margin failure means the
    * decode or diff kernel broke, not the data).
    *
    * Scale shape: one decode-bounded narrow pass, reader per
    * partition, TWO frames resident at a time (streaming pairwise —
    * a shot detector never holds the clip); no shuffle; the final
    * ORDER BY is oracle determinism only. The per-pair diff sums are
    * integer-exact and fully replayable from the text, so unlike the
    * lossy mm7 this codec path carries a FULL hash oracle. */
  def mm12SceneCuts(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // empty docs have no frames to cut — skipped on BOTH sides (the
    // oracle's generate_series(1,0) is empty, so its per-doc boundary
    // CTE drops them; mirror that here instead of emitting a
    // cut_ok=false row the oracle never sees)
    documents(s, d).select(col("doc_id"), col("text"))
      .filter(length(col("text")) > 0)
      .as[(Long, String)]
      .map { case (id, t) =>
        val bytes = t.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        val n = 5 + (id % 3).toInt
        val cut = 2 + (id % 2).toInt
        val p = encodeCutVideo(bytes, n, cut)
        MediaRecord(id, p, "gv01cut", p.length)
      }
      .mapPartitions { it =>
        val reader = partitionReader("bmp")
        disposing(it.map { r =>
          val bb = java.nio.ByteBuffer.wrap(r.payload)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          val magic = new Array[Byte](4); bb.get(magic)
          require(new String(magic, "US-ASCII") == "GV01", "bad container magic")
          val nFrames = bb.getInt; val fb = bb.getInt
          def channels(f: Int): Array[Int] = {
            // close per frame: at bench scale this loop opens
            // docs × frames streams — leaking them exhausts
            // descriptor/cache capacity long before GC notices
            val iis = javax.imageio.ImageIO.createImageInputStream(
              new java.io.ByteArrayInputStream(r.payload, 12 + f * fb, fb))
            try {
              reader.setInput(iis)
              val img = reader.read(0)
              val out = new Array[Int](img.getWidth * img.getHeight * 3)
              var k = 0; var y = 0
              while (y < img.getHeight) {
                var x = 0
                while (x < img.getWidth) {
                  val rgb = img.getRGB(x, y)
                  out(k) = (rgb >> 16) & 0xff; out(k + 1) = (rgb >> 8) & 0xff
                  out(k + 2) = rgb & 0xff; k += 3
                  x += 1
                }
                y += 1
              }
              out
            } finally iis.close()
          }
          var prev = channels(0)
          var best = -1L; var bestIdx = 0L; var runner = -1L
          var f = 1
          while (f < nFrames) {
            val cur = channels(f)
            var diff = 0L; var i = 0
            while (i < cur.length) { diff += math.abs(cur(i) - prev(i)); i += 1 }
            if (diff > best) { runner = best; best = diff; bestIdx = f }
            else if (diff > runner) runner = diff
            prev = cur
            f += 1
          }
          val planted = 2L + r.doc_id % 2 // the fixture's cut position
          SceneCut(r.doc_id, nFrames.toLong, planted, bestIdx, best, runner,
            cut_ok = bestIdx == planted, margin_ok = best >= 2 * runner)
        }, reader)
      }
      .toDF()
      .orderBy(col("doc_id"))
  }

  val mm12Sql: String =
    """WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents
      |           WHERE length(text) > 0),
      |b AS (SELECT doc_id,
      |             CAST(SUM(ABS(256 - 2 * ord(substr(text, i, 1)))) AS BIGINT) AS boundary
      |      FROM d, unnest(generate_series(1, len)) AS u(i) GROUP BY 1)
      |SELECT d.doc_id, CAST(5 + d.doc_id % 3 AS BIGINT) AS n_frames,
      |       CAST(2 + d.doc_id % 2 AS BIGINT) AS cut_planted,
      |       CAST(2 + d.doc_id % 2 AS BIGINT) AS cut_detected,
      |       b.boundary AS max_diff,
      |       CAST(d.len AS BIGINT) AS runner_diff,
      |       TRUE AS cut_ok, TRUE AS margin_ok
      |FROM d JOIN b USING (doc_id) ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------- MM13
  /** MM13: media-container INTEGRITY audit — the multimodal member of
    * the validation family (r38 validates the relational tables, mm13
    * validates the media corpus): every container's header and byte
    * layout are checked STRUCTURALLY, without decoding — magic bytes,
    * declared-size fields vs actual payload length, and format
    * geometry (BMP width/bpp/pixel-array size; WAV PCM/mono/rate and
    * data-chunk size; GV01 frame-count × frame-size accounting plus
    * the embedded first frame's own magic). This is the cheap pass a
    * 100 TB media pipeline runs BEFORE paying decode: truncation, bit
    * rot and mis-muxed containers surface at header-read cost
    * (O(bytes-touched) = a few dozen per object), and only clean
    * objects proceed to the mm1-mm12 codec stages.
    *
    * The corpus is the mixed-media one (doc_id % 3 routes bmp / wav /
    * gv01-video); the report is one row per format with object/byte
    * volume and per-check violation counts — a clean corpus reports
    * MEASURED zeros (r38's posture), and the byte totals are exact
    * integer functions of the text lengths, so the DuckDB oracle
    * recomputes them from `documents` alone: any drift between the
    * declared layout and the bytes actually written flips the hash.
    * Corruption teeth live in the spec: targeted magic/truncation/
    * geometry tampering flips exactly its own counter (via the
    * package-private [[auditContainer]] kernel the query itself uses).
    *
    * Scale: one narrow pass (encode+audit per row, no decode), one
    * 3-row map-side-combined aggregate; no shuffle of payloads. */
  private[graft] def auditContainer(p: Array[Byte], fmt: String)
      : (Boolean, Boolean, Boolean) = {
    val bb = java.nio.ByteBuffer.wrap(p).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def u16(off: Int) = bb.getShort(off) & 0xffff
    fmt match {
      case "bmp" =>
        val magicOk = p.length >= 54 && p(0) == 'B' && p(1) == 'M'
        val sizeOk = magicOk && bb.getInt(2) == p.length
        val geomOk = magicOk && bb.getInt(18) == ImgW && u16(28) == 24 &&
          bb.getInt(34) == p.length - 54 && (p.length - 54) % RowBytes == 0
        (magicOk, sizeOk, geomOk)
      case "wav" =>
        val magicOk = p.length >= 44 &&
          new String(p, 0, 4, "US-ASCII") == "RIFF" &&
          new String(p, 8, 4, "US-ASCII") == "WAVE"
        val sizeOk = magicOk && bb.getInt(4) == p.length - 8
        val geomOk = magicOk && u16(20) == 1 && u16(22) == 1 &&
          bb.getInt(24) == SampleRate && bb.getInt(40) == p.length - 44 &&
          (p.length - 44) % 2 == 0
        (magicOk, sizeOk, geomOk)
      case _ => // gv01
        val magicOk = p.length >= 12 &&
          new String(p, 0, 4, "US-ASCII") == "GV01"
        val n = if (magicOk) bb.getInt(4) else 0
        val fb = if (magicOk) bb.getInt(8) else 0
        val sizeOk = magicOk && n > 0 && fb > 0 && p.length == 12 + n.toLong * fb
        val geomOk = sizeOk && p(12) == 'B' && p(13) == 'M'
        (magicOk, sizeOk, geomOk)
    }
  }

  def mm13ContainerAudit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d).select(col("doc_id"), col("text"))
      .filter(length(col("text")) > 0)
      .as[(Long, String)]
      .map { case (id, t) =>
        val bytes = t.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        val (p, fmt) = (id % 3) match {
          case 0 => (encodeBmp(bytes), "bmp")
          case 1 => (encodeWav(bytes), "wav")
          case _ => (encodeCutVideo(bytes, (5 + (id / 3) % 3).toInt,
            (2 + (id % 2)).toInt), "gv01")
        }
        val (magicOk, sizeOk, geomOk) = auditContainer(p, fmt)
        (fmt, p.length.toLong, magicOk, sizeOk, geomOk)
      }
      .toDF("format", "n_bytes", "magic_ok", "size_ok", "geom_ok")
      .groupBy(col("format"))
      .agg(count(lit(1)).as("n_objects"),
        sum(col("n_bytes")).as("n_bytes"),
        sum(when(!col("magic_ok"), 1L).otherwise(0L)).as("magic_violations"),
        sum(when(!col("size_ok"), 1L).otherwise(0L)).as("size_violations"),
        sum(when(!col("geom_ok"), 1L).otherwise(0L)).as("geom_violations"))
      .withColumn("pass", col("magic_violations") === 0L &&
        col("size_violations") === 0L && col("geom_violations") === 0L)
      .orderBy(col("format"))
  }

  /** Byte totals recomputed from text lengths alone: BMP = 54 + 48·h
    * with h = max(1, ceil(len/48)); WAV = 44 + 2·len; GV01 =
    * 12 + nFrames·(BMP size of the same len). */
  val mm13Sql: String =
    """WITH d AS (SELECT doc_id, length(text) AS len FROM documents
      |           WHERE length(text) > 0),
      |sized AS (SELECT doc_id,
      |  CASE doc_id % 3 WHEN 0 THEN 'bmp' WHEN 1 THEN 'wav' ELSE 'gv01' END AS format,
      |  CASE doc_id % 3
      |    WHEN 0 THEN 54 + 48 * GREATEST(1, (len + 47) // 48)
      |    WHEN 1 THEN 44 + 2 * len
      |    ELSE 12 + (5 + (doc_id // 3) % 3) *
      |         (54 + 48 * GREATEST(1, (len + 47) // 48))
      |  END AS n_bytes
      |  FROM d)
      |SELECT format, COUNT(*) AS n_objects,
      |       CAST(SUM(n_bytes) AS BIGINT) AS n_bytes,
      |       CAST(0 AS BIGINT) AS magic_violations,
      |       CAST(0 AS BIGINT) AS size_violations,
      |       CAST(0 AS BIGINT) AS geom_violations,
      |       TRUE AS pass
      |FROM sized GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm14_image_probe" -> (mm14ImageProbe _),
    "mm13_container_audit" -> (mm13ContainerAudit _),
    "mm12_scene_cuts" -> (mm12SceneCuts _),
    "mm11_audio_probe" -> (mm11AudioProbe _),
    "mm10_audio_fingerprint" -> (mm10AudioFingerprint _),
    "mm9_phash_dedup"    -> (mm9PerceptualDedup _),
    "mm8_audio_spectral" -> (mm8AudioSpectral _),
    "mm7_jpeg_decode"    -> (mm7JpegDecode _),
    "mm6_video_frames"   -> (mm6VideoFrames _),
    "mm5_audio_mixed"    -> (mm5AudioMixed _),
    "mm1_media_features" -> (mm1MediaFeatures _),
    "mm2_frame_sample"   -> (mm2FrameSample _),
    "mm3_resize"         -> (mm3Resize _),
    "mm4_mixed_decode"   -> (mm4MixedDecode _))

  val oracles: Map[String, String] = Map(
    "mm13_container_audit" -> mm13Sql,
    "mm12_scene_cuts"    -> mm12Sql,
    "mm6_video_frames"   -> mm6Sql,
    "mm5_audio_mixed"    -> mm5Sql,
    "mm1_media_features" -> mm1Sql,
    "mm2_frame_sample"   -> mm2Sql,
    "mm3_resize"         -> mm3Sql,
    "mm4_mixed_decode"   -> mm4Sql)
}
