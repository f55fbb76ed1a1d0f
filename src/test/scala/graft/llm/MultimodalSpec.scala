package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkFixture

class MultimodalSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("image decode is real: PNG round-trip recovers exact dimensions and pixels") {
    // encode a known 16x16 image, decode through the engine kernel
    val f = Multimodal.decodeImage(7L, Multimodal.pngBytes(7L))
    assert(f.decode_ok)
    assert((f.width, f.height, f.channels) === (16, 16, 3))
    // PNG is lossless: the luma must equal the luma of the generator's
    // pixels, computed independently here
    var expected = 0.0
    for (y <- 0 until 16; x <- 0 until 16) {
      val p = ((7L * 1315423911L + x * 2654435761L + y * 97531L) & 0xffffff).toInt
      expected += 0.299 * ((p >> 16) & 0xff) + 0.587 * ((p >> 8) & 0xff) +
        0.114 * (p & 0xff)
    }
    assert(f.mean_luma === math.rint(expected / 256 * 1000) / 1000)
  }

  test("undecodable payload records decode_ok=false, never throws (media P4)") {
    val f = Multimodal.decodeImage(1L, "this is not an image".getBytes)
    assert(!f.decode_ok && f.n_bytes === 20L)
    val a = Multimodal.decodeWav(1L, "nor audio".getBytes)
    assert(!a.decode_ok)
    // resize keeps the row too — input/output counts must reconcile
    val df = Seq(9L).toDF("doc_id")
      .withColumn("media", lit("junk bytes".getBytes))
    val r = Multimodal.resizeFeatures(spark, df, targetW = 8).collect()
    assert(r.length === 1 && !r.head.decode_ok)
  }

  test("odd-length RIFF metadata chunk (padded per spec) doesn't derail the walk") {
    import java.nio.{ByteBuffer, ByteOrder}
    // spec-valid WAV: fmt, then an odd-length LIST chunk + pad byte, then data
    val wav = Multimodal.wavBytes(3L)
    val listBody = "INFOx".getBytes // 5 bytes, odd
    val out = ByteBuffer.allocate(wav.length + 8 + 6).order(ByteOrder.LITTLE_ENDIAN)
    out.put(wav, 0, 36) // RIFF header + fmt chunk
    out.put("LIST".getBytes).putInt(5).put(listBody).put(0.toByte) // pad
    out.put(wav, 36, wav.length - 36) // data chunk
    // fix up the RIFF size field
    out.putInt(4, wav.length - 8 + 14)
    val a = Multimodal.decodeWav(3L, out.array())
    assert(a.decode_ok)
    assert(a.n_samples === 1600 && a.duration_ms === 200)
  }

  test("adversarial RIFF chunk lengths terminate, recorded as bad (no infinite loop)") {
    import java.nio.{ByteBuffer, ByteOrder}
    // valid RIFF/WAVE preamble, then a chunk claiming length -8: the naive
    // cursor math would rewind and spin forever
    val buf = ByteBuffer.allocate(24).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes).putInt(16).put("WAVE".getBytes)
    buf.put("JUNK".getBytes).putInt(-8)
    assert(!Multimodal.decodeWav(1L, buf.array()).decode_ok)
    // and an over-long claimed chunk
    val buf2 = ByteBuffer.allocate(24).order(ByteOrder.LITTLE_ENDIAN)
    buf2.put("RIFF".getBytes).putInt(16).put("WAVE".getBytes)
    buf2.put("data".getBytes).putInt(1 << 30)
    assert(!Multimodal.decodeWav(1L, buf2.array()).decode_ok)
  }

  test("resize kernel scales for real: dims honored, output is a decodable PNG") {
    val df = Seq(1L).toDF("doc_id")
      .withColumn("media", lit(Multimodal.pngBytes(1L)))
    val r = Multimodal.resizeFeatures(spark, df, targetW = 8).collect().head
    assert((r.width, r.height, r.target_w, r.target_h) === (16, 16, 8, 8))
    assert(r.scaled_bytes > 0 && r.scaled_bytes < r.orig_bytes)
  }

  test("wav decode is real: sample rate, duration, and RMS from the PCM stream") {
    val a = Multimodal.decodeWav(3L, Multimodal.wavBytes(3L))
    assert(a.decode_ok)
    assert(a.sample_rate === 8000 && a.n_channels === 1)
    assert(a.n_samples === 1600 && a.duration_ms === 200)
    // a full-scale-12000 sine has RMS ~ 12000/sqrt(2) ~ 8485
    assert(a.rms > 8000 && a.rms < 9000, a.rms.toString)
  }

  test("decode pass over a frame: one feature row per doc, all decodable") {
    val docs = (1L to 20L).toDF("doc_id").withColumn("text", lit("x"))
    val feats = Multimodal.decodeFeatures(spark,
      Multimodal.imagePayload(spark, docs)).collect()
    assert(feats.length === 20)
    assert(feats.forall(_.decode_ok))
    assert(feats.map(_.doc_id).toSet === (1L to 20L).toSet)
  }

  test("mp4 demux re-derives every frame boundary from the sample tables") {
    for (id <- Seq(0L, 3L, 6L)) {
      val bytes = Multimodal.mp4Bytes(id)
      val frames = Multimodal.demuxMp4(bytes)
      val n = Multimodal.mp4FrameCount(id)
      assert(frames.length === n)
      assert(frames.map(_.idx) === (0 until n))
      frames.foreach { f =>
        assert(f.size === Multimodal.mp4FrameSize(f.idx))
        // the offset must land on the frame's own stamp
        assert(new String(bytes, f.offset.toInt, 4, "US-ASCII") === "FRM!")
        val b = java.nio.ByteBuffer.wrap(bytes)
        assert(b.getInt(f.offset.toInt + 4) === f.idx)
      }
      // frames are contiguous within each of the two chunks, not one run:
      // chunk 2's first frame restarts at the stco offset, which the
      // builder placed immediately after chunk 1 — so offsets here are
      // strictly increasing overall
      assert(frames.map(_.offset) === frames.map(_.offset).sorted)
    }
  }

  test("mp4 demux: fixed-size stsz and co64 chunk offsets parse too") {
    import java.nio.ByteBuffer
    def box(tag: String, p: Array[Byte]): Array[Byte] =
      ByteBuffer.allocate(8 + p.length).putInt(8 + p.length)
        .put(tag.getBytes("US-ASCII")).put(p).array()
    def full(tag: String, p: Array[Byte]): Array[Byte] =
      box(tag, Array[Byte](0, 0, 0, 0) ++ p)
    // 3 fixed 32-byte samples in one chunk addressed via co64
    val payload = Array.tabulate(96)(_.toByte)
    val mdat = box("mdat", payload)
    val stsz = full("stsz",
      ByteBuffer.allocate(8).putInt(32).putInt(3).array())
    val stsc = full("stsc",
      ByteBuffer.allocate(16).putInt(1).putInt(1).putInt(3).putInt(1).array())
    val co64 = full("co64",
      ByteBuffer.allocate(12).putInt(1).putLong(8L).array())
    val stbl = box("stbl", stsz ++ stsc ++ co64)
    val moov = box("moov", box("trak", box("mdia", box("minf", stbl))))
    val frames = Multimodal.demuxMp4(mdat ++ moov)
    assert(frames.map(f => (f.idx, f.offset, f.size)) ===
      Seq((0, 8L, 32), (1, 40L, 32), (2, 72L, 32)))
  }

  test("mp4 demux tolerates malformed input (media P4)") {
    assert(Multimodal.demuxMp4(Array[Byte]()) === Nil)
    assert(Multimodal.demuxMp4("not an mp4 at all".getBytes) === Nil)
    // truncated mid-moov: a box claiming to run past the buffer
    val good = Multimodal.mp4Bytes(1L)
    assert(Multimodal.demuxMp4(good.take(good.length / 2)) === Nil)
  }
}
