package graft.llm

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import javax.imageio.ImageIO
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Q
import graft.query.Tables

/** Multimodal-column plumbing (SURVEY.md §2.11 L4): media payloads as opaque
  * `binary` columns with typed metadata alongside.
  *
  * Image decode/resize are REAL (`javax.imageio` ships with the JDK: PNG /
  * JPEG / BMP — no external codec needed, headless-safe), audio decode
  * is REAL for RIFF/WAV PCM (pure header + sample parsing), and video
  * demux is a REAL pure-JDK ISO-BMFF box walk (stsz/stsc/stco sample
  * tables expanded to per-frame offsets; see the `demuxMp4` scaladoc).
  * Everything Spark-side is the production shape either way: binary column
  * representation, typed feature schemas, and partition-preserving
  * iterator-to-iterator `mapPartitions` kernels (the Scala analog of
  * `mapInPandas`), plus columnar metadata ops (byte length, content hash)
  * that never decode at all.
  *
  * At 100 TB: media bytes never shuffle — decode/feature-extract is a
  * narrow per-partition map; only the (small) extracted features flow into
  * joins/aggregations.
  */
object Multimodal {

  System.setProperty("java.awt.headless", "true")
  // ImageIO defaults to a file-backed stream cache: one temp file per
  // encode/decode, serialized on the filesystem — measured ~7x on a
  // 5000-image batch. In-memory streams need no cache at all.
  ImageIO.setUseCache(false)

  /** Extracted per-image features (all REAL decode outputs). */
  case class MediaFeatures(doc_id: Long, n_bytes: Long, width: Int,
      height: Int, channels: Int, mean_luma: Double, decode_ok: Boolean)

  /** The (doc_id, media) image fixture: a real PNG rendered per doc
    * (deterministic pixels from doc_id), so the decode path exercises an
    * actual codec. Parallelism-spread BEFORE the bytes exist: ids (8
    * bytes/row) shuffle, PNG payloads are generated post-shuffle in the
    * partitions that will decode them. Kernels fed from
    * this frame move no media across the wire at all — the shape a 100 TB
    * pipeline gets from a partitioned media-column scan, where the bytes
    * are born distributed.
    */
  def imagePayload(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions(_.map(id => (id, pngBytes(id))))
      .toDF("doc_id", "media")
  }

  /** Spread rows across cores immediately before a codec kernel when the
    * CALLER declares the input under-partitioned (`spreadInput = true` —
    * fixture tables are one parquet file; AQE coalesces small join outputs
    * back to one partition; a per-row codec must not run serial). The flag
    * is explicit rather than inferred from `rdd.getNumPartitions`: under
    * AQE that probe materializes every upstream stage just to read a
    * count, and the kernel query then re-executes them. Default off — a
    * partitioned media scan or [[imagePayload]] is already parallel, and
    * re-shuffling media bytes in front of every kernel is exactly the
    * "media never shuffles" violation this module warns about.
    */
  private def spread(spark: SparkSession, withMedia: DataFrame,
      force: Boolean): DataFrame = {
    val narrow = withMedia.select(col("doc_id"), col("media"))
    if (force) narrow.repartition(spark.sparkContext.defaultParallelism)
    else narrow
  }

  /** Deterministic 16x16 RGB PNG for doc `id` — real image bytes. */
  def pngBytes(id: Long): Array[Byte] = {
    val img = new BufferedImage(16, 16, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 16) {
      val h = (id * 1315423911L + x * 2654435761L + y * 97531L) & 0xffffff
      img.setRGB(x, y, h.toInt)
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** REAL image decode via the JDK codec (PNG/JPEG/BMP). Undecodable
    * payloads yield a row with `decode_ok = false` instead of failing the
    * batch — the P4 skip-and-record contract applied to media.
    */
  def decodeImage(id: Long, bytes: Array[Byte]): MediaFeatures =
    try {
      val img = ImageIO.read(new ByteArrayInputStream(bytes))
      if (img == null)
        MediaFeatures(id, bytes.length.toLong, 0, 0, 0, 0.0, decode_ok = false)
      else {
        // bulk getRGB: one colorspace-converted copy of the raster — the
        // per-pixel getRGB(x, y) path converts and bounds-checks per call,
        // ~10x slower on non-INT_RGB rasters (every JPEG decode)
        val w = img.getWidth; val h = img.getHeight
        val px = img.getRGB(0, 0, w, h, null, 0, w)
        var luma = 0.0
        var i = 0
        while (i < px.length) {
          val p = px(i)
          luma += 0.299 * ((p >> 16) & 0xff) + 0.587 * ((p >> 8) & 0xff) +
            0.114 * (p & 0xff)
          i += 1
        }
        MediaFeatures(id, bytes.length.toLong, w, h,
          img.getRaster.getNumBands,
          math.rint(luma / px.length * 1000) / 1000, decode_ok = true)
      }
    } catch {
      case scala.util.control.NonFatal(_) =>
        MediaFeatures(id, bytes.length.toLong, 0, 0, 0, 0.0, decode_ok = false)
    }

  /** Decode/feature-extract pass: narrow, partition-preserving, streaming
    * per partition (the Spark-idiomatic shape for any media kernel).
    */
  def decodeFeatures(spark: SparkSession, withMedia: DataFrame,
      spreadInput: Boolean = false): Dataset[MediaFeatures] = {
    import spark.implicits._
    spread(spark, withMedia, spreadInput)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) => decodeImage(id, bytes) })
  }

  case class ResizedMeta(doc_id: Long, orig_bytes: Long, width: Int,
      height: Int, target_w: Int, target_h: Int, scaled_bytes: Long,
      decode_ok: Boolean)

  case class ImageHash(doc_id: Long, dhash: Long, decode_ok: Boolean)

  /** L4+: perceptual difference-hash (dHash) for image-level dedup — the
    * multimodal twin of the text MinHash: decode → 9x8 grayscale bilinear
    * downscale → 64 horizontal gradient signs packed into one long.
    * Identical pixels hash identically regardless of container bytes
    * (re-encoded/metadata-stripped copies collapse); the hash survives
    * mild resizing/compression, which a byte-level sha2 cannot. Dedup is
    * then an ordinary 8-byte hash groupBy — the image never shuffles.
    * Map-only, partition-preserving; undecodable rows keep decode_ok=false.
    */
  def imageDHash(spark: SparkSession, withMedia: DataFrame,
      spreadInput: Boolean = false): Dataset[ImageHash] = {
    import spark.implicits._
    spread(spark, withMedia, spreadInput)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        (try Option(ImageIO.read(new ByteArrayInputStream(bytes)))
         catch { case scala.util.control.NonFatal(_) => None }) match {
          case None => ImageHash(id, 0L, decode_ok = false)
          case Some(img) =>
            val gray = new BufferedImage(9, 8, BufferedImage.TYPE_BYTE_GRAY)
            val g = gray.createGraphics()
            g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, 9, 8, null)
            g.dispose()
            val r = gray.getRaster
            var h = 0L
            var y = 0
            while (y < 8) {
              var x = 0
              while (x < 8) {
                if (r.getSample(x + 1, y, 0) > r.getSample(x, y, 0))
                  h |= 1L << (y * 8 + x)
                x += 1
              }
              y += 1
            }
            ImageHash(id, h, decode_ok = true)
        }
      })
  }

  /** REAL resize: decode → aspect-preserving bilinear scale on a
    * `Graphics2D` raster → re-encode; `scaled_bytes` is the actual
    * re-encoded size. Narrow, partition-preserving, composes after decode.
    * Undecodable payloads keep their row with `decode_ok=false` (media P4)
    * so input and output row counts always reconcile.
    */
  def resizeFeatures(spark: SparkSession, withMedia: DataFrame,
      targetW: Int, spreadInput: Boolean = false): Dataset[ResizedMeta] = {
    import spark.implicits._
    spread(spark, withMedia, spreadInput)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        (try Option(ImageIO.read(new ByteArrayInputStream(bytes)))
         catch { case scala.util.control.NonFatal(_) => None }) match {
          case None =>
            ResizedMeta(id, bytes.length.toLong, 0, 0, targetW, 0, 0L,
              decode_ok = false)
          case Some(img) =>
            val targetH = math.max(1,
              (img.getHeight.toLong * targetW / img.getWidth).toInt)
            val scaled = new BufferedImage(targetW, targetH,
              BufferedImage.TYPE_INT_RGB)
            val g = scaled.createGraphics()
            g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, targetW, targetH, null)
            g.dispose()
            val bos = new ByteArrayOutputStream()
            ImageIO.write(scaled, "png", bos)
            ResizedMeta(id, bytes.length.toLong, img.getWidth, img.getHeight,
              targetW, targetH, bos.size.toLong, decode_ok = true)
        }
      })
  }

  // ---- audio: RIFF/WAV PCM, real header + sample parse ----------------------

  /** Extracted per-audio features (REAL parse of RIFF/WAV PCM). */
  case class AudioFeatures(doc_id: Long, n_bytes: Long, sample_rate: Int,
      n_channels: Int, n_samples: Long, duration_ms: Long, rms: Double,
      decode_ok: Boolean)

  /** Deterministic 16-bit mono PCM WAV for doc `id`: 200ms of a sine whose
    * frequency derives from the id — real, spec-conformant audio bytes.
    */
  def wavBytes(id: Long, sampleRate: Int = 8000): Array[Byte] = {
    val n = sampleRate / 5 // 200 ms
    val freq = 200.0 + (id % 17) * 60.0
    val data = new Array[Short](n)
    for (i <- 0 until n)
      data(i) = (math.sin(2 * math.Pi * freq * i / sampleRate) * 12000).toShort
    val buf = ByteBuffer.allocate(44 + n * 2).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes).putInt(36 + n * 2).put("WAVE".getBytes)
    buf.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
      .putInt(sampleRate).putInt(sampleRate * 2).putShort(2).putShort(16)
    buf.put("data".getBytes).putInt(n * 2)
    data.foreach(buf.putShort)
    buf.array()
  }

  /** REAL WAV decode: walk the RIFF chunks, read fmt, compute duration and
    * RMS over the PCM samples. Malformed payloads record `decode_ok=false`.
    */
  def decodeWav(id: Long, bytes: Array[Byte]): AudioFeatures = {
    def bad = AudioFeatures(id, bytes.length.toLong, 0, 0, 0L, 0L, 0.0,
      decode_ok = false)
    try {
      val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      val riff = new Array[Byte](4); buf.get(riff); buf.getInt
      val wave = new Array[Byte](4); buf.get(wave)
      if (new String(riff) != "RIFF" || new String(wave) != "WAVE") return bad
      var rate = 0; var channels = 0; var bits = 0
      var rms = 0.0; var frames = 0L
      while (buf.remaining() >= 8) {
        val tag = new Array[Byte](4); buf.get(tag)
        val len = buf.getInt
        // adversarial guard: a negative or over-long chunk length would
        // otherwise rewind the cursor and spin this loop forever
        if (len < 0 || len > buf.remaining()) return bad
        // RIFF pads odd-sized chunks with one byte NOT counted in `len`
        // (odd-length LIST/INFO metadata is common in real WAVs); every
        // branch advances to chunkStart + len + pad, clamped to the buffer
        val chunkStart = buf.position()
        val next = math.min(chunkStart + len + (len & 1), buf.limit())
        new String(tag) match {
          case "fmt " =>
            if (len < 16) return bad
            val fmt = buf.getShort; channels = buf.getShort
            rate = buf.getInt; buf.getInt; buf.getShort; bits = buf.getShort
            if (fmt != 1 || bits != 16) return bad // PCM16 only
          case "data" =>
            val n = len / 2
            var acc = 0.0
            for (_ <- 0 until n) { val s = buf.getShort.toDouble; acc += s * s }
            rms = math.rint(math.sqrt(acc / math.max(n, 1)) * 100) / 100
            frames = n.toLong // per-channel division deferred until fmt known
          case _ => ()
        }
        buf.position(next)
      }
      // divide AFTER the walk: a (malformed) data-before-fmt file must not
      // silently divide by the not-yet-known channel count
      if (rate == 0 || channels == 0) bad
      else {
        val nSamples = frames / channels
        AudioFeatures(id, bytes.length.toLong, rate, channels, nSamples,
          nSamples * 1000L / rate, rms, decode_ok = true)
      }
    } catch { case scala.util.control.NonFatal(_) => bad }
  }

  /** Audio feature pass over a WAV `binary` column — same narrow shape. */
  def audioFeatures(spark: SparkSession, withAudio: DataFrame,
      spreadInput: Boolean = false): Dataset[AudioFeatures] = {
    import spark.implicits._
    spread(spark, withAudio, spreadInput)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) => decodeWav(id, bytes) })
  }

  // ---- video: REAL ISO-BMFF (MP4) demux — pure-JDK box walk ------------------
  // A video container's frame boundaries live in the moov/trak/mdia/minf/
  // stbl sample tables: stsz (per-sample sizes), stsc (samples-per-chunk
  // runs), stco/co64 (chunk file offsets). Walking them is pure byte-level
  // parsing — no codec needed to locate and slice frame payloads, which is
  // exactly what a frame-sampling pipeline does before handing bytes to a
  // decoder.

  /** Number of frames the fixture MP4 for doc `id` carries (4..10). */
  def mp4FrameCount(id: Long): Int = (4 + (id % 7)).toInt

  /** Size of frame `i` in the fixture (exercises per-sample stsz). */
  def mp4FrameSize(i: Int): Int = 100 + 8 * (i % 5)

  private def box(tag: String, payload: Array[Byte]): Array[Byte] = {
    val b = ByteBuffer.allocate(8 + payload.length) // MP4 is big-endian
    b.putInt(8 + payload.length).put(tag.getBytes("US-ASCII")).put(payload)
    b.array()
  }

  private def fullBox(tag: String, payload: Array[Byte]): Array[Byte] =
    box(tag, Array[Byte](0, 0, 0, 0) ++ payload) // version 0, flags 0

  /** A real, minimal ISO-BMFF file for doc `id`: ftyp + mdat (frame
    * payloads, each stamped `FRM!` + its index) + moov with a full sample
    * table. Frames split across TWO chunks so stsc expansion is exercised,
    * with real absolute file offsets in stco. [[demuxMp4]] must re-derive
    * every frame boundary from the tables alone.
    */
  def mp4Bytes(id: Long): Array[Byte] = {
    val n = mp4FrameCount(id)
    val sizes = (0 until n).map(mp4FrameSize)
    val ftyp = box("ftyp",
      "isom".getBytes("US-ASCII") ++ Array[Byte](0, 0, 0, 0) ++
        "isom".getBytes("US-ASCII"))
    val frames = (0 until n).map { i =>
      val f = ByteBuffer.allocate(sizes(i))
      f.put("FRM!".getBytes("US-ASCII")).putInt(i)
      // deterministic filler derived from (id, i)
      (8 until sizes(i)).foreach(j =>
        f.put(((id * 31 + i * 7 + j) & 0x7f).toByte))
      f.array()
    }
    val mdat = box("mdat", frames.flatten.toArray)
    // chunk 1 = first ceil(n/2) samples, chunk 2 = the rest
    val c1 = (n + 1) / 2
    val chunk1Off = ftyp.length + 8 // mdat payload start
    val chunk2Off = chunk1Off + sizes.take(c1).sum
    val stsd = fullBox("stsd", {
      val entry = box("mp4v", new Array[Byte](8)) // 6 reserved + 2 dataref
      ByteBuffer.allocate(4 + entry.length).putInt(1).put(entry).array()
    })
    val stts = fullBox("stts",
      ByteBuffer.allocate(12).putInt(1).putInt(n).putInt(512).array())
    val stsc = fullBox("stsc", {
      val b = ByteBuffer.allocate(4 + 2 * 12).putInt(2)
      b.putInt(1).putInt(c1).putInt(1)      // first_chunk=1: c1 samples
      b.putInt(2).putInt(n - c1).putInt(1)  // first_chunk=2: the rest
      b.array()
    })
    val stsz = fullBox("stsz", {
      val b = ByteBuffer.allocate(8 + 4 * n).putInt(0).putInt(n)
      sizes.foreach(b.putInt)
      b.array()
    })
    val stco = fullBox("stco",
      ByteBuffer.allocate(12).putInt(2).putInt(chunk1Off).putInt(chunk2Off)
        .array())
    val stbl = box("stbl", stsd ++ stts ++ stsc ++ stsz ++ stco)
    val minf = box("minf", stbl)
    val mdhd = fullBox("mdhd",
      ByteBuffer.allocate(20).putInt(0).putInt(0).putInt(1000)
        .putInt(n * 512).putInt(0x55c40000).array())
    val hdlr = fullBox("hdlr",
      new Array[Byte](4) ++ "vide".getBytes("US-ASCII") ++ new Array[Byte](13))
    val mdia = box("mdia", mdhd ++ hdlr ++ minf)
    val tkhd = fullBox("tkhd", new Array[Byte](80))
    val trak = box("trak", tkhd ++ mdia)
    val mvhd = fullBox("mvhd", new Array[Byte](96))
    val moov = box("moov", mvhd ++ trak)
    ftyp ++ mdat ++ moov
  }

  /** One demuxed frame: its index, absolute byte offset, and size. */
  final case class Mp4Frame(idx: Int, offset: Long, size: Int)

  /** Walk the ISO-BMFF box tree and expand the sample tables into per-frame
    * (offset, size) — the REAL demux: nothing about the fixture layout is
    * assumed; boundaries come from stsz/stsc/stco (or co64) alone. The
    * first video track's stbl wins. Malformed input yields Nil (media P4:
    * one bad payload must not fail the batch).
    */
  def demuxMp4(bytes: Array[Byte]): Seq[Mp4Frame] =
    try {
      val buf = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
      // children of [from, until): returns (tag, payloadFrom, payloadUntil)
      def children(from: Int, until: Int): Seq[(String, Int, Int)] = {
        val out = Seq.newBuilder[(String, Int, Int)]
        var p = from
        while (p + 8 <= until) {
          val size = buf.getInt(p)
          val tag = new String(bytes, p + 4, 4, "US-ASCII")
          if (size < 8 || p + size > until) return out.result()
          out += ((tag, p + 8, p + size))
          p += size
        }
        out.result()
      }
      def child(from: Int, until: Int, tag: String): Option[(Int, Int)] =
        children(from, until).collectFirst { case (`tag`, f, u) => (f, u) }
      def path(from: Int, until: Int, tags: String*): Option[(Int, Int)] =
        tags.foldLeft(Option((from, until))) { case (acc, t) =>
          acc.flatMap { case (f, u) => child(f, u, t) }
        }
      val stbl = path(0, bytes.length,
        "moov", "trak", "mdia", "minf", "stbl").getOrElse(return Nil)
      val (sf, su) = stbl
      // stsz: version/flags, fixed_size, count, [sizes]
      val sizes: IndexedSeq[Int] = child(sf, su, "stsz").map { case (f, _) =>
        val fixed = buf.getInt(f + 4)
        val count = buf.getInt(f + 8)
        if (fixed != 0) IndexedSeq.fill(count)(fixed)
        else (0 until count).map(i => buf.getInt(f + 12 + 4 * i))
      }.getOrElse(return Nil)
      // stco (32-bit) or co64 (64-bit): chunk offsets
      val chunkOffs: IndexedSeq[Long] =
        child(sf, su, "stco").map { case (f, _) =>
          val c = buf.getInt(f + 4)
          (0 until c).map(i => buf.getInt(f + 8 + 4 * i).toLong & 0xffffffffL)
        }.orElse(child(sf, su, "co64").map { case (f, _) =>
          val c = buf.getInt(f + 4)
          (0 until c).map(i => buf.getLong(f + 8 + 8 * i))
        }).getOrElse(return Nil)
      // stsc: (first_chunk, samples_per_chunk, desc) runs -> per-chunk count
      val stscRuns: IndexedSeq[(Int, Int)] = child(sf, su, "stsc")
        .map { case (f, _) =>
          val c = buf.getInt(f + 4)
          (0 until c).map(i =>
            (buf.getInt(f + 8 + 12 * i), buf.getInt(f + 12 + 12 * i)))
        }.getOrElse(return Nil)
      def samplesInChunk(chunk1Based: Int): Int =
        stscRuns.takeWhile(_._1 <= chunk1Based).lastOption.map(_._2)
          .getOrElse(0)
      val out = Seq.newBuilder[Mp4Frame]
      var sample = 0
      var chunk = 0
      while (chunk < chunkOffs.length && sample < sizes.length) {
        var off = chunkOffs(chunk)
        var k = 0
        val inChunk = samplesInChunk(chunk + 1)
        while (k < inChunk && sample < sizes.length) {
          out += Mp4Frame(sample, off, sizes(sample))
          off += sizes(sample)
          sample += 1
          k += 1
        }
        chunk += 1
      }
      out.result()
    } catch { case scala.util.control.NonFatal(_) => Nil }

  /** The (doc_id, media) MP4 fixture — same born-distributed shape as
    * [[imagePayload]].
    */
  def videoPayload(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions(_.map(id => (id, mp4Bytes(id))))
      .toDF("doc_id", "media")
  }

  /** Per-frame sample of a video payload: one output row per sampled frame
    * — the 1→N generator shape every frame-level pipeline needs, fed by
    * the REAL sample-table demux. `payload_ok` proves each demuxed offset
    * actually landed on a frame: the bytes there must carry the `FRM!`
    * stamp and the frame's own index.
    */
  case class FrameMeta(doc_id: Long, frame_idx: Int, byte_offset: Long,
      frame_size: Int, payload_ok: Boolean)

  def sampleFrames(spark: SparkSession, withMedia: DataFrame,
      stride: Int): Dataset[FrameMeta] = {
    import spark.implicits._
    withMedia.select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        demuxMp4(bytes).iterator
          .filter(_.idx % stride == 0)
          .map { f =>
            val b = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
            val ok = f.offset + 8 <= bytes.length &&
              new String(bytes, f.offset.toInt, 4, "US-ASCII") == "FRM!" &&
              b.getInt(f.offset.toInt + 4) == f.idx
            FrameMeta(id, f.idx, f.offset, f.size, ok)
          }
      })
  }

  /** Text bytes as an opaque payload — for the decode-free metadata ops. */
  def withBinaryPayload(docs: DataFrame): DataFrame =
    docs.withColumn("media", col("text").cast("binary"))

  val all: Seq[Q] = Seq(

    // ---- L4: columnar metadata over binary payloads (no decode needed) --------
    Q("q_multimodal_meta", Some(
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |       sha256(text) AS sha
        |FROM documents ORDER BY doc_id""".stripMargin),
      (s, d) => withBinaryPayload(Tables(s, d, "documents"))
        .select(col("doc_id"),
          length(col("media")).cast("long").as("n_bytes"),
          sha2(col("media"), 256).as("sha"))
        .orderBy("doc_id")),

    // ---- L4: REAL image decode + resize (JDK codec), oracled via fixture laws --
    // thumbnail direction (16 -> 8): upscaling 16x16 noise to model-input
    // widths deflate-encodes ~150 KB of incompressible pixels per image —
    // measured 60x the cost for nothing demonstrated.
    // The payload generator's geometry (16x16 RGB per doc) is the ground
    // truth DuckDB re-states per doc_id; the Spark side must RE-DERIVE it
    // by actually decoding the PNG bytes through the codec — a broken
    // encode/decode/resize path cannot reproduce the frame. Re-encoded
    // byte sizes are codec-version-defined, so they ride as >0 booleans.
    Q("q_multimodal_resize", Some(
      """SELECT doc_id, 16 AS width, 16 AS height, 8 AS target_w,
        |  8 AS target_h, true AS scaled_ok
        |FROM documents ORDER BY doc_id""".stripMargin),
      (s, d) => resizeFeatures(s,
        imagePayload(s, Tables(s, d, "documents")), targetW = 8)
        .toDF()
        .select(col("doc_id"), col("width"), col("height"),
          col("target_w"), col("target_h"),
          (col("decode_ok") && col("scaled_bytes") > 0).as("scaled_ok"))
        .orderBy("doc_id")),

    // ---- L4+: image dedup via perceptual dHash ---------------------------------
    // Corpus = 100 per-id images + a planted byte-identical copy of the
    // first 50 under shifted ids: every planted pair must collapse to one
    // group keyed by the ORIGINAL id (min), the other 50 stay singletons.
    // The oracle re-states that planted structure; a broken decode,
    // downscale, or hash path cannot reproduce it. (Distinct noise images
    // colliding in a 64-bit dHash would also break it — deterministic
    // fixtures make that a fixed, verified-absent event, not flake.)
    Q("q_image_dedup", Some(
      """SELECT doc_id AS keep_id,
        |  CAST(CASE WHEN doc_id < 50 THEN 2 ELSE 1 END AS BIGINT)
        |    AS n_copies
        |FROM documents WHERE doc_id < 100 ORDER BY keep_id""".stripMargin),
      (s, d) => {
        import s.implicits._
        val ids = Tables(s, d, "documents")
          .filter(col("doc_id") < 100).select(col("doc_id")).as[Long]
          .repartition(s.sparkContext.defaultParallelism)
        val media = ids.mapPartitions(_.flatMap { id =>
          val orig = (id, pngBytes(id))
          if (id < 50) Seq(orig, (id + 10000L, pngBytes(id))) else Seq(orig)
        }).toDF("doc_id", "media")
        imageDHash(s, media).toDF()
          .filter(col("decode_ok"))
          .groupBy("dhash")
          .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
          .select("keep_id", "n_copies")
          .orderBy("keep_id")
      }),

    Q("q_multimodal_decode", Some(
      """SELECT 3 AS channels, true AS decode_ok,
        |  CAST(count(*) AS BIGINT) AS n, 16 AS max_width, 16 AS max_height
        |FROM documents""".stripMargin),
      (s, d) => {
        val feats = decodeFeatures(s,
          imagePayload(s, Tables(s, d, "documents")))
        feats.toDF()
          .groupBy("channels", "decode_ok")
          .agg(count(lit(1)).as("n"),
            max("width").as("max_width"), max("height").as("max_height"))
          .orderBy("channels")
      }),

    // ---- L4: REAL audio decode (WAV PCM), oracled via fixture laws -------------
    // sample_rate/n_samples/duration_ms are the generator's spec (8 kHz,
    // 200 ms => 1600 samples) that only a correct RIFF walk re-derives
    // from the bytes; rms_ok pins the decoded PCM to the sine's A/sqrt(2)
    // (= 8485.28; measured decode deviation <= 0.52, bound 5).
    Q("q_multimodal_audio", Some(
      """SELECT doc_id, 8000 AS sample_rate, CAST(1600 AS BIGINT) AS n_samples,
        |  CAST(200 AS BIGINT) AS duration_ms, true AS rms_ok
        |FROM documents ORDER BY doc_id""".stripMargin),
      (s, d) => {
        import s.implicits._
        val audio = Tables(s, d, "documents").select(col("doc_id")).as[Long]
          .repartition(s.sparkContext.defaultParallelism)
          .mapPartitions(_.map(id => (id, wavBytes(id))))
          .toDF("doc_id", "media")
        audioFeatures(s, audio).toDF()
          .filter(col("decode_ok"))
          .select(col("doc_id"), col("sample_rate"), col("n_samples"),
            col("duration_ms"),
            (abs(col("rms") - 12000.0 / math.sqrt(2.0)) <= 5.0).as("rms_ok"))
          .orderBy("doc_id")
      }),

    // ---- L4: frame sampling via the REAL MP4 sample-table demux ----------------
    // Ground truth: the fixture builder writes 4 + doc_id%7 frames of size
    // 100 + 8*(i%5) — DuckDB re-states that spec per doc; the Spark side
    // must RE-DERIVE every boundary by walking stsz/stsc/stco, and
    // payload_ok proves each offset landed on the frame's own stamp.
    Q("q_multimodal_frames", Some(
      """SELECT doc_id,
        |  CAST(unnest(range(0, 4 + doc_id % 7, 2)) AS INT) AS frame_idx,
        |  CAST(100 + 8 * (unnest(range(0, 4 + doc_id % 7, 2)) % 5) AS INT)
        |    AS frame_size,
        |  true AS payload_ok
        |FROM documents WHERE doc_id < 100
        |ORDER BY doc_id, frame_idx""".stripMargin),
      (s, d) => sampleFrames(s,
        videoPayload(s, Tables(s, d, "documents").filter(col("doc_id") < 100)),
        stride = 2)
        .toDF()
        .select("doc_id", "frame_idx", "frame_size", "payload_ok")
        .orderBy("doc_id", "frame_idx"))
  )
}
