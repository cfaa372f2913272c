package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column handling: media payloads as opaque `binary` columns
  * with typed metadata, decoded/feature-extracted in batched
  * partition-local passes.
  *
  * Two codec tiers:
  *  - REAL image path (`decodeImageMeta` / `resizeImage` and the
  *    `imageFeatures` / `resizeImages` table ops): the JDK's built-in
  *    `javax.imageio` decodes PNG/JPEG/GIF/BMP headers and pixels, resizes
  *    with bilinear Graphics2D, re-encodes lossless PNG — no external
  *    library, oracle-checked (`q_image_decode`, `q_image_resize`).
  *  - REAL audio path (`decodeAudio` / `audioFeatures`): the JDK's
  *    `javax.sound.sampled` parses WAV/AIFF/AU containers and streams PCM
  *    for exact integer energy features (`q_audio_decode`).
  *  - REAL video path (`aviFrameChunks` / `decodeAviFrames` /
  *    `videoFrames`): MJPEG-in-AVI parsed as a plain RIFF chunk tree,
  *    each movi frame a standalone JPEG decoded by the same ImageIO
  *    path — oracle-checked (`q_video_decode`).
  *  - REAL mp4 metadata path (`mp4Meta` / `mp4Features`): the ISO-BMFF
  *    box tree is parsed in-JVM; frame decode is not claimed (no
  *    H.264/H.265 codec ships with the JDK).
  *  - STUB path (`decodeStub` / `extractFeatures`): deterministic fake
  *    features from the byte length, so the partition-local batched
  *    plumbing stays testable; a real build swaps the body for an
  *    ffmpeg-style call, not the pipeline.
  */
object Multimodal {

  /** Content-type sniffing by magic bytes (T35) — the crawl-side triage
    * that routes a fetched payload to the right decode path BEFORE
    * trusting any server-declared Content-Type. Pure codegen'd column
    * expression over the first bytes' hex: no UDF, runs inside the scan
    * projection. Covers the container formats the engine decodes (png /
    * jpeg / gif / wav / avi / mp4 / gzip / zip-ooxml) plus html-by-lead-
    * tag; everything else is octet-stream.
    */
  def detectMime(bin: Column): Column = {
    val h12 = upper(hex(substring(bin, 1, 12)))
    def lead(n: Int) = substring(h12, 1, n)
    when(lead(8) === "89504E47", "image/png")
      .when(lead(4) === "FFD8", "image/jpeg")
      .when(lead(6) === "474946", "image/gif")
      .when(lead(8) === "52494646" &&
        substring(h12, 17, 8) === "57415645", "audio/wav")
      .when(lead(8) === "52494646" &&
        substring(h12, 17, 8) === "41564920", "video/x-msvideo")
      .when(substring(h12, 9, 8) === "66747970", "video/mp4") // ftyp at +4
      .when(lead(4) === "1F8B", "application/gzip")
      .when(lead(8) === "504B0304", "application/zip")
      .when(lead(2) === "3C", "text/html") // '<'
      .otherwise("application/octet-stream")
  }

  final case class MediaMeta(
      url: String,
      n_bytes: Long,
      width: Int,
      height: Int,
      fmt: String
  )

  /** STUB decode: deterministic pseudo-features from byte length only, so
    * an oracle can reproduce them. A real build replaces the body with an
    * actual codec call; the batched mapPartitions shape (one decoder init
    * per partition, streaming over rows) is the part that matters at scale.
    */
  def decodeStub(url: String, payload: Array[Byte]): MediaMeta = {
    val n = payload.length.toLong
    MediaMeta(
      url = url,
      n_bytes = n,
      width = (64 + n % 251).toInt,
      height = (64 + n % 241).toInt,
      fmt = (n % 3) match {
        case 0 => "jpeg"
        case 1 => "png"
        case _ => "webp"
      })
  }

  /** Feature-extract a (url, binary) table. mapPartitions so a real codec
    * would be initialized once per partition, not once per row.
    */
  def extractFeatures(media: DataFrame, urlCol: String, binCol: String): Dataset[MediaMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col(urlCol), col(binCol)).as[(String, Array[Byte])]
      .mapPartitions { it =>
        // decoder init would go here (once per partition)
        it.map { case (url, bytes) => decodeStub(url, bytes) }
      }
  }

  final case class ResizedMedia(url: String, width: Int, height: Int,
      payload: Array[Byte])

  // -------------------------------------------------------------------
  // REAL image codec path — the JDK ships javax.imageio (PNG/JPEG/GIF/BMP)
  // so decode, bounding-box resize and re-encode need no external library.
  // -------------------------------------------------------------------

  locally { // BufferedImage/Graphics2D without a display server
    System.setProperty("java.awt.headless", "true")
  }

  /** Deterministic tiny PNG: `w`x`h`, pixel(x,y) seeded from
    * (seed, x, y) — the fixture generator for the oracle-checked image
    * queries AND the round-trip tests (PNG is lossless, pixels survive).
    */
  def synthPng(seed: Long, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val mix = seed * 6364136223846793005L + x * 9007199254740993L + y
        img.setRGB(x, y, ((mix >>> 16) & 0xffffff).toInt)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** REAL header-only decode: ImageIO reader reads dimensions + format
    * from the stream header without decoding pixel data — the cheap
    * metadata pass a crawl pipeline runs over every image. Returns None
    * for payloads no installed codec recognizes (callers fall back to the
    * stub or drop).
    */
  def decodeImageMeta(url: String, payload: Array[Byte]): Option[MediaMeta] = {
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) None
      else {
        val r = readers.next()
        try {
          r.setInput(iis)
          Some(MediaMeta(url, payload.length.toLong,
            r.getWidth(0), r.getHeight(0), r.getFormatName.toLowerCase))
        } finally r.dispose()
      }
    } finally iis.close()
  }

  /** REAL bounding-box resize: full decode, bilinear Graphics2D scale,
    * lossless PNG re-encode. None when the payload is not a decodable
    * image.
    */
  def resizeImage(url: String, payload: Array[Byte], maxW: Int, maxH: Int)
      : Option[ResizedMedia] = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    if (img == null) None
    else {
      val scale = math.min(1.0,
        math.min(maxW.toDouble / img.getWidth, maxH.toDouble / img.getHeight))
      val w = math.max(1, (img.getWidth * scale).toInt)
      val h = math.max(1, (img.getHeight * scale).toInt)
      val out = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      try {
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, w, h, null)
      } finally g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(out, "png", bos)
      Some(ResizedMedia(url, w, h, bos.toByteArray))
    }
  }

  /** Image metadata over a (url, binary) table with the REAL codec;
    * undecodable payloads are dropped (flatMap). Same partition-local
    * batched shape as the stub path.
    */
  def imageFeatures(media: DataFrame, urlCol: String, binCol: String): Dataset[MediaMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col(urlCol), col(binCol)).as[(String, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (url, bytes) => decodeImageMeta(url, bytes) }
      }
  }

  /** Bounding-box resize over a (url, binary) table with the REAL codec. */
  def resizeImages(media: DataFrame, urlCol: String, binCol: String,
      maxW: Int, maxH: Int): Dataset[ResizedMedia] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col(urlCol), col(binCol)).as[(String, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (url, bytes) => resizeImage(url, bytes, maxW, maxH) }
      }
  }

  // -------------------------------------------------------------------
  // REAL audio codec path — the JDK ships javax.sound.sampled (WAV/AIFF/
  // AU), so header decode AND PCM feature extraction need no external
  // library either.
  // -------------------------------------------------------------------

  final case class AudioMeta(
      url: String,
      n_bytes: Long,
      sample_rate: Int,
      channels: Int,
      n_frames: Long,
      energy: Long // sum of squared int16 samples — exact integer
  )

  /** Deterministic mono 16-bit PCM WAV: sample(i) = ((seed + i*31) mod
    * 65536) - 32768 — small-multiplier arithmetic an SQL oracle can
    * replay without 64-bit overflow.
    */
  def synthWav(seed: Long, nSamples: Int, sampleRate: Float = 8000f): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(sampleRate, 16, 1, true, false)
    val pcm = new Array[Byte](nSamples * 2)
    var i = 0
    while (i < nSamples) {
      val s = (((seed + i.toLong * 31) % 65536) - 32768).toInt
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** REAL audio decode + feature extract: parse the container header via
    * AudioSystem, stream the PCM frames, and compute the exact integer
    * energy (sum of squared samples) — the kind of per-row DSP feature a
    * training pipeline filters on. None for payloads no installed codec
    * recognizes.
    */
  def decodeAudio(url: String, payload: Array[Byte]): Option[AudioMeta] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val f = in.getFormat
        // decodable-but-different layouts (8/24-bit WAVs, big-endian AIFF,
        // non-PCM encodings) are DROPPED like unrecognized containers —
        // throwing here would fail the whole executor task for one payload
        if (f.getSampleSizeInBits != 16 || f.isBigEndian ||
          f.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED)
          None
        else {
          val bytes = in.readAllBytes()
          var energy = 0L
          var i = 0
          while (i + 1 < bytes.length) {
            val s = ((bytes(i) & 0xff) | (bytes(i + 1) << 8)).toShort.toLong
            energy += s * s
            i += 2
          }
          Some(AudioMeta(url, payload.length.toLong,
            f.getSampleRate.toInt, f.getChannels, in.getFrameLength, energy))
        }
      } finally in.close()
    } catch {
      case _: javax.sound.sampled.UnsupportedAudioFileException => None
    }

  /** Audio metadata + energy over a (url, binary) table with the REAL
    * codec; undecodable payloads are dropped.
    */
  def audioFeatures(media: DataFrame, urlCol: String, binCol: String): Dataset[AudioMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col(urlCol), col(binCol)).as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (url, bytes) => decodeAudio(url, bytes) })
  }

  // -------------------------------------------------------------------
  // REAL video codec path — MJPEG-in-AVI. The RIFF/AVI container is a
  // plain chunk tree and each '..dc' frame is a standalone JPEG, which
  // the already-used ImageIO path decodes: container parse + frame
  // sample + pixel decode all run in-JVM with no external library.
  // -------------------------------------------------------------------

  private val Ascii = java.nio.charset.StandardCharsets.US_ASCII

  private def le16(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def le32(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  private def chunk(id: String, body: Array[Byte]): Array[Byte] = {
    val pad = body.length % 2 // RIFF chunks are word-aligned
    id.getBytes(Ascii) ++ le32(body.length) ++ body ++
      Array.fill[Byte](pad)(0)
  }
  private def list(listType: String, body: Array[Byte]): Array[Byte] =
    chunk("LIST", listType.getBytes(Ascii) ++ body)

  /** Deterministic `w`x`h` JPEG for container frame `i` of video `seed`
    * (same pixel mix as [[synthPng]], per-frame offset in the seed).
    */
  def synthFrameJpeg(seed: Long, i: Int, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val mix = (seed * 1000003L + i) * 6364136223846793005L +
          x * 9007199254740993L + y
        img.setRGB(x, y, ((mix >>> 16) & 0xffffff).toInt)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  /** Deterministic MJPEG-in-AVI fixture: a spec-shaped RIFF tree
    * (hdrl[avih, strl[strh 'vids'/'MJPG', strf BITMAPINFOHEADER]] +
    * movi['00dc' JPEG frames]) any AVI-aware player accepts — the
    * generator for the oracle-checked `q_video_decode` and VideoSpec.
    */
  def synthAvi(seed: Long, nFrames: Int, w: Int, h: Int): Array[Byte] = {
    val frames = (0 until nFrames).map(i => synthFrameJpeg(seed, i, w, h))
    val avih = le32(66667) ++ le32(0) ++ le32(0) ++ le32(0) ++
      le32(nFrames) ++ le32(0) ++ le32(1) ++ le32(0) ++
      le32(w) ++ le32(h) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val strh = "vids".getBytes(Ascii) ++ "MJPG".getBytes(Ascii) ++
      le32(0) ++ le16(0) ++ le16(0) ++ le32(0) ++ le32(1) ++ le32(15) ++
      le32(0) ++ le32(nFrames) ++ le32(0) ++ le32(-1) ++ le32(0) ++
      le16(0) ++ le16(0) ++ le16(w) ++ le16(h)
    val strf = le32(40) ++ le32(w) ++ le32(h) ++ le16(1) ++ le16(24) ++
      "MJPG".getBytes(Ascii) ++ le32(w * h * 3) ++ le32(0) ++ le32(0) ++
      le32(0) ++ le32(0)
    val hdrl = list("hdrl",
      chunk("avih", avih) ++ list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
    val movi = list("movi", frames.map(chunk("00dc", _)).reduce(_ ++ _))
    chunk("RIFF", "AVI ".getBytes(Ascii) ++ hdrl ++ movi)
  }

  private def fourcc(b: Array[Byte], off: Int): String =
    new String(b, off, 4, Ascii)
  private def u32(b: Array[Byte], off: Int): Long =
    (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
      ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

  /** True iff the payload is a RIFF/AVI container. */
  def isAvi(payload: Array[Byte]): Boolean =
    payload.length >= 12 && fourcc(payload, 0) == "RIFF" &&
      fourcc(payload, 8) == "AVI "

  /** REAL container parse: walk the RIFF chunk tree and return every
    * video frame chunk ('..dc', e.g. 00dc) of every 'movi' list — also
    * inside 'rec ' grouping lists, which interleaved AVIs use — as
    * (absolute byte offset, frame bytes) in container order. Tolerant of
    * truncated tails (stops at the last complete chunk). Empty for
    * non-AVI payloads.
    */
  def aviFrameChunks(payload: Array[Byte]): Seq[(Long, Array[Byte])] = {
    if (!isAvi(payload)) return Seq.empty
    val out = Seq.newBuilder[(Long, Array[Byte])]
    // `inMovi` only gates frame collection — chunk ids are only
    // meaningful as frames inside movi/rec lists
    def walk(from: Int, until: Int, inMovi: Boolean): Unit = {
      var p = from
      while (p + 8 <= until) {
        val id = fourcc(payload, p)
        val size = u32(payload, p + 4)
        val end = p + 8 + size
        if (size < 0) return
        if (id == "LIST" && size >= 4 && p + 12 <= until) {
          // a truncated LIST still yields its complete children: clamp
          val listType = fourcc(payload, p + 8)
          walk(p + 12, math.min(end, until.toLong).toInt,
            inMovi || listType == "movi" || listType == "rec ")
        } else if (end <= until && inMovi && id.endsWith("dc")) {
          out += ((p + 8L,
            java.util.Arrays.copyOfRange(payload, p + 8, end.toInt)))
        }
        if (end > until) return // truncated tail: cannot advance past it
        p = end.toInt + (size.toInt % 2) // word alignment
      }
    }
    walk(12, payload.length, inMovi = false)
    out.result()
  }

  final case class VideoFrame(url: String, frame_idx: Int, src_frame: Int,
      offset: Long, width: Int, height: Int, frame_md5: String,
      payload: Array[Byte])

  private def md5Hex(bytes: Array[Byte]): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(bytes)
    d.map("%02x".format(_)).mkString
  }
  private def hexUpper(bytes: Array[Byte]): String =
    bytes.map("%02X".format(_)).mkString

  /** REAL frame sampling + decode for one AVI: every `stride`-th movi
    * frame up to `maxFrames`, each JPEG decoded by ImageIO for its true
    * pixel dimensions. `frame_md5` = md5 of the frame's UPPERCASE-hex
    * rendering (DuckDB replays it as `md5(hex(payload))` over the dumped
    * frame table). Frames ImageIO cannot decode are dropped.
    */
  def decodeAviFrames(url: String, payload: Array[Byte],
      stride: Int, maxFrames: Int): Seq[VideoFrame] = {
    val chunks = aviFrameChunks(payload)
    (0 until chunks.length by stride).take(maxFrames).zipWithIndex.flatMap {
      case (src, idx) =>
        val (off, bytes) = chunks(src)
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        if (img == null) None
        else Some(VideoFrame(url, idx, src, off, img.getWidth, img.getHeight,
          md5Hex(hexUpper(bytes).getBytes(Ascii)), bytes))
    }
  }

  /** Sampled, decoded frames over a (url, binary) AVI table with the
    * REAL codec — partition-local 1:N fan-out bounded by `maxFrames`;
    * non-AVI payloads are dropped.
    */
  def videoFrames(media: DataFrame, urlCol: String, binCol: String,
      stride: Int = 4, maxFrames: Int = 8): Dataset[VideoFrame] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col(urlCol), col(binCol)).as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (url, bytes) =>
        decodeAviFrames(url, bytes, stride, maxFrames)
      })
  }

  // ------------------------------------------------------------------
  // ISO BMFF (mp4) — REAL metadata extraction (round 5). Frame DECODE
  // stays impossible in-JVM (no H.264/H.265 codec ships with the JDK),
  // so it is not claimed; the container METADATA is fully parseable: the
  // box tree, movie header, track headers, and sample tables are plain
  // big-endian structures (ISO/IEC 14496-12, publicly specified).
  // ------------------------------------------------------------------

  private def be16(v: Int): Array[Byte] =
    Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def be32(v: Long): Array[Byte] =
    Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def box(tpe: String, body: Array[Byte]): Array[Byte] =
    be32(body.length + 8L) ++ tpe.getBytes(Ascii) ++ body
  private def beU32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
      ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)
  private def beU64(b: Array[Byte], off: Int): Long =
    (beU32(b, off) << 32) | beU32(b, off + 4)

  /** Deterministic sample size for synthMp4 frame `i` of video `seed` —
    * mirrored by the q_video_meta oracle's arithmetic.
    */
  def mp4SampleSize(seed: Long, i: Int): Int =
    100 + ((seed + i * 31L) % 400L).toInt

  /** Deterministic minimal-but-spec-shaped mp4: ftyp('isom') +
    * moov(mvhd[timescale 1000, duration nFrames*40] + trak(tkhd[16.16
    * fixed w/h] + mdia(mdhd + hdlr 'vide' + minf(stbl(stsd['avc1' w/h] +
    * stts + stsz[deterministic sizes] + stsc + stco))))) + mdat. The
    * mdat payload is deterministic filler — the fixture exercises the
    * METADATA surface (decode is out of JVM reach and not claimed).
    */
  def synthMp4(seed: Long, nFrames: Int, w: Int, h: Int): Array[Byte] = {
    val timescale = 1000L
    val dur = nFrames * 40L
    val sizes = (0 until nFrames).map(mp4SampleSize(seed, _))
    val mdatBody = Array.tabulate(sizes.sum)(i => ((seed + i) & 0xff).toByte)
    val matrix = Array(0x00010000L, 0L, 0L, 0L, 0x00010000L, 0L, 0L, 0L,
      0x40000000L).flatMap(be32)
    val mvhd = box("mvhd", be32(0) ++ be32(0) ++ be32(0) ++
      be32(timescale) ++ be32(dur) ++ be32(0x00010000L) ++ be16(0x0100) ++
      be16(0) ++ be32(0) ++ be32(0) ++ matrix ++
      Array.fill[Byte](24)(0) ++ be32(2))
    val tkhd = box("tkhd", be32(7) ++ be32(0) ++ be32(0) ++ be32(1) ++
      be32(0) ++ be32(dur) ++ be32(0) ++ be32(0) ++ be16(0) ++ be16(0) ++
      be16(0) ++ be16(0) ++ matrix ++ be32(w.toLong << 16) ++
      be32(h.toLong << 16))
    val mdhd = box("mdhd", be32(0) ++ be32(0) ++ be32(0) ++
      be32(timescale) ++ be32(dur) ++ be16(0x55c4) ++ be16(0))
    val hdlr = box("hdlr", be32(0) ++ be32(0) ++ "vide".getBytes(Ascii) ++
      Array.fill[Byte](12)(0) ++ "VideoHandler".getBytes(Ascii) :+ 0.toByte)
    val avc1 = box("avc1", Array.fill[Byte](6)(0) ++ be16(1) ++
      be16(0) ++ be16(0) ++ Array.fill[Byte](12)(0) ++ be16(w) ++ be16(h) ++
      be32(0x00480000L) ++ be32(0x00480000L) ++ be32(0) ++ be16(1) ++
      Array.fill[Byte](32)(0) ++ be16(24) ++ be16(0xffff))
    val stsd = box("stsd", be32(0) ++ be32(1) ++ avc1)
    val stts = box("stts", be32(0) ++ be32(1) ++ be32(nFrames.toLong) ++ be32(40))
    val stsz = box("stsz", be32(0) ++ be32(0) ++ be32(nFrames.toLong) ++
      sizes.flatMap(s => be32(s.toLong)).toArray)
    val stsc = box("stsc", be32(0) ++ be32(1) ++ be32(1) ++
      be32(nFrames.toLong) ++ be32(1))
    // stco needs the mdat payload offset = everything before it; build
    // the tree once with a placeholder to learn the length, then rebuild
    def assemble(mdatOffset: Long): Array[Byte] = {
      val stco = box("stco", be32(0) ++ be32(1) ++ be32(mdatOffset))
      val stbl = box("stbl", stsd ++ stts ++ stsz ++ stsc ++ stco)
      val vmhd = box("vmhd", be32(1) ++ be16(0) ++ be16(0) ++ be16(0) ++ be16(0))
      val dref = box("dref", be32(0) ++ be32(1) ++ box("url ", be32(1)))
      val minf = box("minf", vmhd ++ box("dinf", dref) ++ stbl)
      val mdia = box("mdia", mdhd ++ hdlr ++ minf)
      val trak = box("trak", tkhd ++ mdia)
      val moov = box("moov", mvhd ++ trak)
      val ftyp = box("ftyp", "isom".getBytes(Ascii) ++ be32(0x200) ++
        "isom".getBytes(Ascii) ++ "avc1".getBytes(Ascii))
      ftyp ++ moov ++ box("mdat", mdatBody)
    }
    val probe = assemble(0L)
    assemble(probe.length - mdatBody.length)
  }

  final case class Mp4Meta(url: String, brand: String, duration_ms: Long,
      width: Int, height: Int, codec: String, n_samples: Long,
      media_bytes: Long)

  /** True iff the payload starts with an ftyp box. */
  def isMp4(payload: Array[Byte]): Boolean =
    payload.length >= 12 && fourcc4(payload, 4) == "ftyp"

  private def fourcc4(b: Array[Byte], off: Int): String =
    new String(b, off, 4, Ascii)

  /** REAL ISO-BMFF metadata parse: walks the box tree (64-bit largesize
    * and truncation tolerated), reads the movie header for
    * timescale/duration, and for the FIRST video ('vide' handler) track
    * reads the 16.16-fixed track dimensions, the stsd codec fourcc, and
    * the stsz sample count + total media bytes. None for non-BMFF bytes.
    */
  def mp4Meta(url: String, payload: Array[Byte]): Option[Mp4Meta] = {
    if (!isMp4(payload)) return None
    var brand = ""
    var mvTimescale = 0L; var mvDuration = 0L
    var width = 0; var height = 0
    var codec = ""; var nSamples = 0L; var mediaBytes = 0L
    var curHandler = ""
    var trakDone = false
    // per-trak staging: tkhd dims are read before hdlr says 'vide', so
    // stage them and commit when the handler confirms a video track
    var tW = 0; var tH = 0; var tCodec = ""; var tN = 0L; var tBytes = 0L
    val containers = Set("moov", "trak", "mdia", "minf", "stbl")
    def walk(from: Int, until: Int, depth: Int): Unit = {
      var off = from
      while (off + 8 <= until) {
        val size0 = beU32(payload, off)
        val tpe = fourcc4(payload, off + 4)
        var body = off + 8
        val size =
          if (size0 == 1L && off + 16 <= until) { body = off + 16; beU64(payload, off + 8) }
          else if (size0 == 0L) (until - off).toLong // box extends to end
          else size0
        val end = math.min(until.toLong, off + size).toInt
        if (size < 8 || end <= off) return // corrupt/truncated: stop
        tpe match {
          case "ftyp" if brand.isEmpty && body + 4 <= end =>
            brand = fourcc4(payload, body)
          case "mvhd" if body + 20 <= end =>
            val v = payload(body) & 0xff
            if (v == 1) { mvTimescale = beU32(payload, body + 20); mvDuration = beU64(payload, body + 24) }
            else { mvTimescale = beU32(payload, body + 12); mvDuration = beU32(payload, body + 16) }
          case "tkhd" if body + 4 <= end =>
            // width/height (16.16 fixed) after verflags + times/ids +
            // duration + reserved + layer/group/volume + 3x3 matrix:
            // 76 bytes into a v0 body, 88 into a v1 (64-bit times) body
            val v = payload(body) & 0xff
            val dimOff = body + (if (v == 1) 88 else 76)
            if (dimOff + 8 <= end) {
              tW = (beU32(payload, dimOff) >> 16).toInt
              tH = (beU32(payload, dimOff + 4) >> 16).toInt
            }
          case "hdlr" if body + 12 <= end =>
            curHandler = fourcc4(payload, body + 8)
          case "stsd" if body + 16 <= end =>
            tCodec = fourcc4(payload, body + 12)
          case "stsz" if body + 12 <= end =>
            val fixed = beU32(payload, body + 4)
            val n = beU32(payload, body + 8)
            tN = n
            tBytes =
              if (fixed > 0) fixed * n
              else (0L until n).map { i =>
                val o = body + 12 + i.toInt * 4
                if (o + 4 <= end) beU32(payload, o) else 0L
              }.sum
          case t if containers(t) =>
            val isTrak = t == "trak"
            if (isTrak) { tW = 0; tH = 0; tCodec = ""; tN = 0L; tBytes = 0L; curHandler = "" }
            walk(body, end, depth + 1)
            if (isTrak && !trakDone && curHandler == "vide") {
              width = tW; height = tH; codec = tCodec
              nSamples = tN; mediaBytes = tBytes; trakDone = true
            }
          case _ => ()
        }
        off = end
      }
    }
    walk(0, payload.length, 0)
    if (mvTimescale <= 0) None
    else Some(Mp4Meta(url, brand, mvDuration * 1000L / mvTimescale,
      width, height, codec, nSamples, mediaBytes))
  }

  /** mp4 metadata over a (url, binary) table — typed partition-local
    * map, non-BMFF payloads dropped; the metadata-side 100 TB shape is
    * identical to the image/audio paths (1:1 narrow projection, no
    * shuffle).
    */
  def mp4Features(media: DataFrame, urlCol: String, binCol: String): Dataset[Mp4Meta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col(urlCol), col(binCol)).as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (url, bytes) => mp4Meta(url, bytes) })
  }
}
