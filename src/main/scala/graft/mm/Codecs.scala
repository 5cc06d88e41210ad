package graft.mm

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.{IIOImage, ImageIO, ImageTypeSpecifier}
import javax.imageio.metadata.IIOMetadataNode
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

/**
 * Real media codecs over the public JDK APIs (`javax.imageio`,
 * `javax.sound.sampled` — both in the `java.desktop` module, present
 * on every stock JDK 17, fully headless for encode/decode). No native
 * or third-party media libraries involved; this replaces the rounds
 * 3–5 "codec stubbed, no media libs in sandbox" constraint, which
 * turned out to be wrong: the JDK itself ships PNG/JPEG/GIF/BMP image
 * codecs and RIFF/WAVE audio parsing.
 *
 * Determinism notes (these feed exact-arithmetic DuckDB gate oracles):
 *  - PNG is lossless: encode→decode round-trips ARGB exactly.
 *  - GIF is palette-based: frames restricted to ≤256 distinct colors
 *    (e.g. gray written as (v,v,v)) round-trip exactly, and per-frame
 *    delay metadata survives (verified empirically on this JDK).
 *  - 16-bit little-endian PCM WAV round-trips samples exactly.
 *  - JPEG is lossy — decodable here, never used for exact gates.
 *
 * Everything is executor-side and thread-safe: fresh reader/writer
 * instances per call (ImageIO's shared instances are not thread-safe)
 * and the ImageIO disk cache is disabled once per JVM so executors
 * never churn temp files under load.
 */
object Codecs {

  // one-time, idempotent; ImageIO.setUseCache is a static toggle
  private lazy val init: Unit = ImageIO.setUseCache(false)

  final case class Image(width: Int, height: Int, argb: Array[Int]) {
    def pixel(x: Int, y: Int): Int = argb(y * width + x)
    /** Integer luminance sum over r+g+b of every pixel (exact). */
    def lumSum: Long = {
      var s = 0L; var i = 0
      while (i < argb.length) {
        val p = argb(i)
        s += ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
        i += 1
      }
      s
    }
  }

  // ---------------------------------------------------------------- image

  /** Encode an ARGB pixel function as a (lossless) PNG. */
  def encodePng(width: Int, height: Int, rgb: (Int, Int) => Int): Array[Byte] = {
    init
    val img = new BufferedImage(width, height, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) { img.setRGB(x, y, rgb(x, y)); x += 1 }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    require(ImageIO.write(img, "png", bos), "no PNG writer on this JDK")
    bos.toByteArray
  }

  /** Encode pre-built ARGB pixels as a PNG via one bulk raster write
    * (the per-pixel-function overload above pays w*h closure calls —
    * fine for synthesis, wrong for the bulk re-encode path). */
  def encodePngPixels(width: Int, height: Int, argb: Array[Int]): Array[Byte] = {
    init
    require(argb.length == width * height, "pixel buffer size mismatch")
    val img = new BufferedImage(width, height, BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, width, height, argb, 0, width)
    val bos = new ByteArrayOutputStream()
    require(ImageIO.write(img, "png", bos), "no PNG writer on this JDK")
    bos.toByteArray
  }

  /** Decode any ImageIO-supported still image (PNG/JPEG/GIF/BMP —
    * format sniffed from the bytes). Returns null-free pixels or
    * throws on undecodable input (callers choose how loud to be). */
  def decodeImage(bytes: Array[Byte]): Image = {
    init
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    require(img != null, s"undecodable image payload (${bytes.length} bytes)")
    toImage(img)
  }

  private def toImage(img: BufferedImage): Image = {
    val w = img.getWidth; val h = img.getHeight
    // getRGB bulk path converts any source type (indexed, gray, ...)
    // to default-sRGB ARGB — one allocation, no per-pixel dispatch
    Image(w, h, img.getRGB(0, 0, w, h, null, 0, w))
  }

  /** Exact area-average downsample to (tw, th) on integer-scaled
    * boxes; deterministic (no Graphics2D rendering-hint variance). */
  def resample(src: Image, tw: Int, th: Int): Image = {
    require(tw > 0 && th > 0, s"bad resample target ${tw}x$th")
    val out = new Array[Int](tw * th)
    var ty = 0
    while (ty < th) {
      val y0 = ty * src.height / th
      val y1 = math.max(y0 + 1, (ty + 1) * src.height / th)
      var tx = 0
      while (tx < tw) {
        val x0 = tx * src.width / tw
        val x1 = math.max(x0 + 1, (tx + 1) * src.width / tw)
        var r = 0L; var g = 0L; var b = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val p = src.pixel(x, y)
            r += (p >> 16) & 0xff; g += (p >> 8) & 0xff; b += p & 0xff
            x += 1
          }
          y += 1
        }
        val n = (y1 - y0).toLong * (x1 - x0)
        out(ty * tw + tx) = 0xff000000 |
          (((r / n).toInt & 0xff) << 16) | (((g / n).toInt & 0xff) << 8) | ((b / n).toInt & 0xff)
        tx += 1
      }
      ty += 1
    }
    Image(tw, th, out)
  }

  // ---------------------------------------------------------------- audio

  /** 16-bit signed little-endian mono PCM → RIFF/WAVE bytes. */
  def encodeWavPcm16(samples: Array[Short], sampleRate: Int): Array[Byte] = {
    val pcm = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      pcm(2 * i) = samples(i).toByte
      pcm(2 * i + 1) = (samples(i) >> 8).toByte
      i += 1
    }
    val fmt = new AudioFormat(sampleRate.toFloat, 16, 1, true, false)
    val bos = new ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new ByteArrayInputStream(pcm), fmt, samples.length.toLong),
      AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Declared `data` chunk size from a RIFF/WAVE header, walking the
    * chunk list (each chunk: 4cc + LE size, padded to even). Returns
    * -1 when no data chunk is found, or when a chunk size exceeds
    * Int.MaxValue or points past the end of the bytes (malformed
    * container — left to the AudioSystem parser's own error). */
  private[mm] def riffDataChunkSize(bytes: Array[Byte]): Long = {
    def le32(off: Int): Long =
      (bytes(off) & 0xffL) | ((bytes(off + 1) & 0xffL) << 8) |
        ((bytes(off + 2) & 0xffL) << 16) | ((bytes(off + 3) & 0xffL) << 24)
    var off = 12L // past RIFF<size>WAVE
    while (off + 8 <= bytes.length) {
      val id = new String(bytes, off.toInt, 4, "US-ASCII")
      val sz = le32(off.toInt + 4)
      if (id == "data") return sz
      // sz is an unsigned 32-bit size, so next > off; a size over
      // Int.MaxValue always lands past the end
      val next = off + 8 + sz + (sz & 1) // chunks pad to even
      if (next > bytes.length) return -1L
      off = next
    }
    -1L
  }

  /** RIFF/WAVE bytes → (samples, sampleRate). Accepts 16-bit signed
    * PCM in either endianness and 8-bit unsigned PCM (widened). */
  def decodeWav(bytes: Array[Byte]): (Array[Short], Int) = {
    val in = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
    val fmt = in.getFormat
    require(fmt.getChannels == 1, s"expected mono WAV, got ${fmt.getChannels} channels")
    val raw = in.readAllBytes()
    val enc = fmt.getEncoding
    require(enc == AudioFormat.Encoding.PCM_SIGNED || enc == AudioFormat.Encoding.PCM_UNSIGNED,
      s"unsupported WAV encoding: $enc (only PCM — a ULAW/ALAW stream widened as PCM " +
        "would silently produce garbage samples)")
    fmt.getSampleSizeInBits match {
      case 16 =>
        // a truncated/corrupt stream with an odd PCM byte count must
        // fail loudly (named-failure contract), not decode to
        // plausible-looking samples with the tail silently dropped.
        // AudioInputStream already rounds DOWN to whole frames before
        // we see the bytes, so the parity check must read the declared
        // `data` chunk size from the RIFF header itself.
        val declared = riffDataChunkSize(bytes)
        require(declared < 0 || declared % 2 == 0,
          s"corrupt 16-bit WAV: odd data-chunk byte count $declared (truncated stream?)")
        require(raw.length % 2 == 0,
          s"corrupt 16-bit WAV: odd PCM byte count ${raw.length} (truncated stream?)")
        val n = raw.length / 2
        val out = new Array[Short](n)
        var i = 0
        if (fmt.isBigEndian)
          while (i < n) { out(i) = (((raw(2 * i) & 0xff) << 8) | (raw(2 * i + 1) & 0xff)).toShort; i += 1 }
        else
          while (i < n) { out(i) = (((raw(2 * i + 1) & 0xff) << 8) | (raw(2 * i) & 0xff)).toShort; i += 1 }
        (out, fmt.getSampleRate.toInt)
      case 8 =>
        (raw.map(b => (((b & 0xff) - 128) << 8).toShort), fmt.getSampleRate.toInt)
      case other => throw new IllegalArgumentException(s"unsupported WAV sample size: $other bits")
    }
  }

  // ---------------------------------------------------------------- video

  /** Animated GIF from (argbPixels, delayCentiseconds) frames. Frames
    * must keep ≤256 distinct colors each for exact round trips (the
    * GIF palette limit — a format property, not a codec shortcut). */
  def encodeGifAnim(width: Int, height: Int,
                    frames: Seq[(Array[Int], Int)]): Array[Byte] = {
    init
    require(frames.nonEmpty, "empty GIF")
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      for ((argb, delayCs) <- frames) {
        require(argb.length == width * height, "frame size mismatch")
        val img = new BufferedImage(width, height, BufferedImage.TYPE_INT_RGB)
        img.setRGB(0, 0, width, height, argb, 0, width)
        val meta = writer.getDefaultImageMetadata(new ImageTypeSpecifier(img),
          writer.getDefaultWriteParam)
        val fmtName = meta.getNativeMetadataFormatName
        val root = meta.getAsTree(fmtName).asInstanceOf[IIOMetadataNode]
        val gce = new IIOMetadataNode("GraphicControlExtension")
        gce.setAttribute("disposalMethod", "none")
        gce.setAttribute("userInputFlag", "FALSE")
        gce.setAttribute("transparentColorFlag", "FALSE")
        gce.setAttribute("delayTime", delayCs.toString)
        gce.setAttribute("transparentColorIndex", "0")
        root.appendChild(gce)
        meta.setFromTree(fmtName, root)
        writer.writeToSequence(new IIOImage(img, null, meta), writer.getDefaultWriteParam)
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  /** Animated GIF → (frame pixels, delayCentiseconds) per frame.
    * Frames are returned as stored: a foreign GIF using sub-rectangle
    * frames + restore-style disposal decodes to the stored sub-rects,
    * not a composed canvas (graft-written GIFs always store full
    * frames with disposal "none", so their round trip is exact). */
  def decodeGifFrames(bytes: Array[Byte]): Seq[(Image, Int)] = {
    init
    val reader = ImageIO.getImageReadersByFormatName("gif").next()
    val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
    reader.setInput(iis)
    try {
      val n = reader.getNumImages(true)
      (0 until n).map { f =>
        val img = toImage(reader.read(f))
        val meta = reader.getImageMetadata(f)
        val root = meta.getAsTree(meta.getNativeMetadataFormatName)
          .asInstanceOf[IIOMetadataNode]
        val gces = root.getElementsByTagName("GraphicControlExtension")
        val delay =
          if (gces.getLength == 0) 0
          else gces.item(0).asInstanceOf[IIOMetadataNode].getAttribute("delayTime").toInt
        (img, delay)
      }
    } finally { reader.dispose(); iis.close() }
  }
}
