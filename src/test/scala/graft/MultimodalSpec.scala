package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal

/** Multimodal plumbing: the JDK-codec image, audio, AVI and mp4 paths
  * round-trip their synthetic fixtures exactly, and the stub feature
  * extractor stays deterministic (a real codec swaps only its body).
  */
class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val media = Seq(
    ("u1", Array.fill[Byte](2048)(7)),
    ("u2", Array.fill[Byte](513)(3)),
    ("u3", Array.fill[Byte](100)(1))
  ).toDF("url", "payload")

  test("extractFeatures emits one metadata row per payload, deterministic") {
    val a = Multimodal.extractFeatures(media, "url", "payload").collect()
    val b = Multimodal.extractFeatures(media, "url", "payload").collect()
    assert(a.sortBy(_.url).toSeq == b.sortBy(_.url).toSeq)
    assert(a.length == 3 && a.forall(m => m.width >= 64 && m.height >= 64))
  }

  test("REAL codec: PNG round-trips pixels exactly through synth -> decode") {
    val png = Multimodal.synthPng(seed = 42L, w = 20, h = 10)
    val meta = Multimodal.decodeImageMeta("u", png)
    assert(meta.contains(Multimodal.MediaMeta("u", png.length.toLong, 20, 10, "png")))
    // lossless: every pixel equals the generator's formula
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    for (y <- 0 until 10; x <- 0 until 20) {
      val mix = 42L * 6364136223846793005L + x * 9007199254740993L + y
      assert((img.getRGB(x, y) & 0xffffff) == ((mix >>> 16) & 0xffffff).toInt)
    }
    // non-image payloads are rejected, not mangled
    assert(Multimodal.decodeImageMeta("u", "not a png".getBytes).isEmpty)
  }

  test("REAL codec: bounding-box resize scales dims exactly and stays decodable") {
    val png = Multimodal.synthPng(seed = 7L, w = 32, h = 16)
    val r = Multimodal.resizeImage("u", png, maxW = 16, maxH = 16).get
    assert(r.width == 16 && r.height == 8) // scale = 0.5
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
    assert(back.getWidth == 16 && back.getHeight == 8)
    // no upscaling past the original
    val small = Multimodal.resizeImage("u", Multimodal.synthPng(1L, 4, 4), 16, 16).get
    assert(small.width == 4 && small.height == 4)
  }

  test("REAL codec: WAV round-trips header fields and exact PCM energy") {
    val wav = Multimodal.synthWav(seed = 5L, nSamples = 100)
    val m = Multimodal.decodeAudio("u", wav).get
    assert(m.sample_rate == 8000 && m.channels == 1 && m.n_frames == 100L)
    val expected = (0 until 100).map { i =>
      val s = ((5L + i * 31) % 65536) - 32768
      s * s
    }.sum
    assert(m.energy == expected, s"energy ${m.energy} != $expected")
    assert(Multimodal.decodeAudio("u", "not audio".getBytes).isEmpty)
  }

  test("REAL codec: AVI container round-trips MJPEG frames with true dims") {
    val avi = Multimodal.synthAvi(seed = 11L, nFrames = 5, w = 48, h = 32)
    // container parse finds every movi frame, in order, each a real JPEG
    val chunks = Multimodal.aviFrameChunks(avi)
    assert(chunks.length == 5)
    assert(chunks.forall { case (_, b) =>
      (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8 // JPEG SOI marker
    })
    assert(chunks.map(_._1) == chunks.map(_._1).sorted)
    // sampled decode: stride 2, cap 2 -> src frames 0 and 2, true dims
    val frames = Multimodal.decodeAviFrames("u", avi, stride = 2, maxFrames = 2)
    assert(frames.map(f => (f.frame_idx, f.src_frame)) == Seq((0, 0), (1, 2)))
    assert(frames.forall(f => f.width == 48 && f.height == 32))
    assert(frames.forall(f => f.frame_md5.matches("[0-9a-f]{32}")))
    // frame bytes are the exact movi chunk bytes
    assert(frames.head.payload.sameElements(chunks.head._2))
    // non-AVI and truncated payloads never throw
    assert(Multimodal.aviFrameChunks("not an avi".getBytes).isEmpty)
    val truncated = java.util.Arrays.copyOf(avi, avi.length - 7)
    assert(Multimodal.aviFrameChunks(truncated).length == 4)
  }

  test("REAL ISO-BMFF metadata: box-tree parse reads mvhd/tkhd/stsd/stsz exactly") {
    val mp4 = Multimodal.synthMp4(seed = 17L, nFrames = 6, w = 64, h = 48)
    val m = Multimodal.mp4Meta("u", mp4).get
    assert(m.brand == "isom")
    assert(m.duration_ms == 240) // 6 frames * 40ms at timescale 1000
    assert(m.width == 64 && m.height == 48)
    assert(m.codec == "avc1")
    assert(m.n_samples == 6)
    assert(m.media_bytes ==
      (0 until 6).map(Multimodal.mp4SampleSize(17L, _)).sum)
    // metadata survives mdat truncation (moov precedes mdat)
    val truncated = java.util.Arrays.copyOf(mp4, mp4.length - 50)
    assert(Multimodal.mp4Meta("u", truncated).contains(m))
    // non-BMFF bytes are rejected, not mis-parsed
    assert(Multimodal.mp4Meta("u", "RIFFxxxxAVI xxxx".getBytes).isEmpty)
    assert(Multimodal.mp4Meta("u", Array.fill[Byte](3)(1)).isEmpty)
  }
}
