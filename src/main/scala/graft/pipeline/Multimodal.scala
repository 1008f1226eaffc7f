package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, plus batched per-partition
  * feature extraction.
  *
  * Beyond-reference surface (BASELINE.json north star). IMAGE payloads
  * (PNG/JPEG/GIF/BMP, sniffed by magic number) are decoded for REAL
  * through `javax.imageio` — dimensions and mean luma come from the
  * actual raster. VIDEO payloads are real too for MJPEG-in-AVI: the
  * RIFF container is walked ([[aviFrames]]) and every frame goes
  * through the JDK's actual JPEG decoder — the JDK ships no other
  * video codec, so AVI/MJPEG is the honestly-decodable format. Only
  * payloads with no JDK-reachable codec at all (unknown formats)
  * fall back to a deterministic STUB keyed on the payload bytes,
  * clearly marked below.
  *
  * Scale design: payload bytes ride in the row (Parquet binary), so a
  * scan prunes them unless requested (`ReadSchema` check); feature
  * extraction is `mapPartitions` over a typed Dataset — one codec
  * initialization per partition, streaming iterator, no per-row setup
  * and no driver collect. On a real cluster the same code fans out per
  * input split.
  */
object Multimodal {

  // ImageIO defaults to a FILE-backed stream cache: every
  // read/write of an in-memory byte array round-trips through a temp
  // file under java.io.tmpdir, with synchronized temp-file creation —
  // measured as the dominant non-CPU runtime of the codec stages
  // (p191's two hot stages: 150 s + 104 s task runtime against
  // ~25 s CPU each at 64 concurrent tasks). All codec inputs here ARE
  // in-memory byte arrays, so the memory-backed cache is strictly
  // better; decoded values are identical. NOTE the setting is
  // PROCESS-GLOBAL — any other ImageIO user in the JVM loses the
  // file-backed cache too (acceptable here: large-stream spill-to-disk
  // is pointless for byte-array codecs, and nothing else in this
  // engine touches ImageIO). Set once, here: every codec call in any
  // JVM (driver, local-mode or remote executor) goes through this
  // object, so its initializer runs before the first one. Setting it
  // at session build as well would cost every process ImageIO's
  // registry start-up (0.27–0.42 s in a fresh JVM) for nothing.
  javax.imageio.ImageIO.setUseCache(false)

  case class MediaRow(media_id: Long, content: Array[Byte], mime: String)

  case class MediaFeatures(
      media_id: Long,
      mime: String,
      n_bytes: Long,
      checksum: String,
      width: Int,
      height: Int,
      mean_luma: Double)

  /** True when the payload's magic number marks a format `ImageIO`
    * decodes out of the box: PNG, JPEG, GIF, or BMP. The dispatch is
    * on CONTENT, not the mime column — a mislabeled payload still
    * takes the right path. Signatures are checked in full (GIF's
    * 6-byte `GIF87a`/`GIF89a`, BMP's 2-byte tag plus a known DIB
    * header size) so ordinary text starting with "BM"/"GIF" is not
    * misrouted into the decoder; [[tryDecodeImage]] backstops the
    * residual false positives.
    */
  def isImagePayload(b: Array[Byte]): Boolean =
    (b.length >= 8 && (b(0) & 0xff) == 0x89 && b(1) == 'P' &&
      b(2) == 'N' && b(3) == 'G') ||
    (b.length >= 3 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8 &&
      (b(2) & 0xff) == 0xff) ||
    (b.length >= 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a') ||
    (b.length >= 18 && b(0) == 'B' && b(1) == 'M' && {
      // little-endian DIB header size at offset 14: one of the sizes
      // any real BMP writer emits
      val dib = (b(14) & 0xff) | ((b(15) & 0xff) << 8) |
        ((b(16) & 0xff) << 16) | ((b(17) & 0xff) << 24)
      dib == 12 || dib == 40 || dib == 52 || dib == 56 || dib == 64 ||
        dib == 108 || dib == 124
    })

  /** Magic-sniff + `ImageIO` parse in one guarded step: null when the
    * payload is not an image OR the bytes fail to parse despite a
    * magic hit (truncated file, lying prefix). Callers fall back to
    * the stub path on null, so a payload that happens to start with
    * an image signature degrades to stub features instead of
    * crashing the whole job.
    */
  private def tryDecodeImage(b: Array[Byte]): java.awt.image.BufferedImage =
    if (!isImagePayload(b)) null
    else
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
      catch { case scala.util.control.NonFatal(_) => null }

  /** REAL image decode for feature extraction: one pass over the
    * decoded raster for mean luma (per-pixel channel average,
    * normalized to [0,1] — exact double math: channel sums are
    * integers, so the division order below is reproducible by any
    * engine computing the same closed form).
    */
  private def imageFeatures(id: Long, mime: String, bytes: Array[Byte],
      digest: String, img: java.awt.image.BufferedImage): MediaFeatures = {
    val w = img.getWidth
    val h = img.getHeight
    // bulk row reads, not per-pixel getRGB — one colormodel conversion
    // per row keeps the raster pass linear in bytes, not API calls
    val rowBuf = new Array[Int](w)
    var lumaSum = 0.0
    var y = 0
    while (y < h) {
      img.getRGB(0, y, w, 1, rowBuf, 0, w)
      var x = 0
      while (x < w) {
        val rgb = rowBuf(x)
        lumaSum += (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) +
          (rgb & 0xff)) / 3.0
        x += 1
      }
      y += 1
    }
    MediaFeatures(id, mime, bytes.length.toLong, digest, w, h,
      lumaSum / (w.toLong * h) / 255.0)
  }

  /** Batched "decode + feature extraction" over a typed Dataset.
    *
    * Image payloads (magic-sniffed) go through the REAL `ImageIO`
    * decoder; everything else (video, unknown) through the documented
    * stub. The partition-iterator shape (init once, stream rows, no
    * materialization) is the part that matters at scale and is exactly
    * what a libjpeg/ffmpeg binding would use.
    */
  def extractFeatures(ds: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      // per-partition init would go here (codec handles, buffers)
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { row =>
        val bytes = row.content
        val digest = md.digest(bytes).map("%02x".format(_)).mkString
        md.reset()
        val img = tryDecodeImage(bytes)
        if (img != null) imageFeatures(row.media_id, row.mime, bytes, digest, img)
        else if (isAviPayload(bytes)) {
          // REAL video features: container walk + per-frame JPEG
          // decode; dimensions from the first decoded frame, mean
          // luma over every decoded raster. An AVI whose frames all
          // fail to decode falls back to the stub like any other
          // undecodable payload.
          val frames = aviFrames(bytes).flatMap(f => Option(
            javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(f))))
          if (frames.isEmpty) decodeOne(row.media_id, row.mime, bytes, digest)
          else MediaFeatures(row.media_id, row.mime, bytes.length.toLong,
            digest, frames.head.getWidth, frames.head.getHeight,
            frames.map(meanLuma255).sum / frames.length / 255.0)
        } else decodeOne(row.media_id, row.mime, bytes, digest)
      }
    }
  }

  /** STUB decode — the fallback for payloads the JDK cannot decode
    * (unknown formats): deterministic fake dimensions/luma derived
    * from the payload bytes. A real build replaces this body with an
    * ffmpeg binding; image payloads never reach it (sniffed into
    * [[imageFeatures]]) and neither do MJPEG-in-AVI videos (sniffed
    * into the [[aviFrames]] + JPEG-decode branch).
    */
  private def decodeOne(id: Long, mime: String, bytes: Array[Byte],
      digest: String): MediaFeatures = {
    val n = bytes.length
    val w = 64 + (if (n > 0) (bytes(0) & 0xff) % 192 else 0)
    val h = 64 + (if (n > 1) (bytes(1) & 0xff) % 192 else 0)
    val luma = if (n == 0) 0.0 else bytes.map(b => (b & 0xff).toDouble).sum / n / 255.0
    MediaFeatures(id, mime, n.toLong, digest, w, h, luma)
  }

  /** True when the payload is a RIFF/AVI container — the magic-number
    * dispatch [[isImagePayload]] does for still images: `RIFF` at 0
    * and the `AVI ` form type at 8. WAV payloads are also RIFF but
    * carry `WAVE` at 8, so the two never cross paths.
    */
  def isAviPayload(b: Array[Byte]): Boolean =
    b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == 'F' && b(8) == 'A' && b(9) == 'V' && b(10) == 'I' &&
      b(11) == ' '

  /** Minimal-but-compliant MJPEG-in-AVI writer: a RIFF container with
    * the standard `hdrl` (avih + one `vids`/`MJPG` stream with its
    * BITMAPINFOHEADER), a `movi` list of one `00dc` chunk per
    * already-JPEG-encoded frame, and an `idx1` index. Every size and
    * field is little-endian per the RIFF spec; chunks pad to even
    * offsets. The payload is genuine container bytes over genuine
    * codec bytes — the video twin of [[encodeWav]]'s real RIFF/WAVE
    * output, closing the one multimodal path that used to be a stub.
    */
  private[graft] def buildAviMjpeg(frames: Seq[Array[Byte]], w: Int,
      h: Int, fps: Int): Array[Byte] = {
    def fcc(s: String): Array[Byte] = s.getBytes("US-ASCII")
    def le32(v: Int): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def le16(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def chunk(id: String, body: Array[Byte]): Array[Byte] =
      fcc(id) ++ le32(body.length) ++ body ++
        (if (body.length % 2 == 1) Array(0.toByte) else Array.emptyByteArray)
    def list(typ: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", fcc(typ) ++ body)
    val n = frames.length
    val maxBytes = if (frames.isEmpty) 0 else frames.map(_.length).max
    val avih = le32(1000000 / fps) ++ le32(maxBytes * fps) ++ le32(0) ++
      le32(0x10 /* AVIF_HASINDEX */) ++ le32(n) ++ le32(0) ++
      le32(1 /* one stream */) ++ le32(maxBytes) ++ le32(w) ++ le32(h) ++
      le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val strh = fcc("vids") ++ fcc("MJPG") ++ le32(0) ++ le16(0) ++
      le16(0) ++ le32(0) ++ le32(1 /* scale */) ++ le32(fps) ++
      le32(0) ++ le32(n) ++ le32(maxBytes) ++ le32(-1 /* quality */) ++
      le32(0) ++ le16(0) ++ le16(0) ++ le16(w) ++ le16(h)
    val strf = le32(40) ++ le32(w) ++ le32(h) ++ le16(1) ++ le16(24) ++
      fcc("MJPG") ++ le32(w * h * 3) ++ le32(0) ++ le32(0) ++ le32(0) ++
      le32(0)
    val hdrl = list("hdrl", chunk("avih", avih) ++
      list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
    // movi body + idx1 entries, built together so each index entry
    // carries its chunk's offset (from the movi list-type fourcc,
    // the convention players expect: first chunk at offset 4)
    val moviBody = new java.io.ByteArrayOutputStream()
    val idx = new java.io.ByteArrayOutputStream()
    frames.foreach { f =>
      idx.write(fcc("00dc")); idx.write(le32(0x10 /* KEYFRAME */))
      idx.write(le32(4 + moviBody.size())); idx.write(le32(f.length))
      moviBody.write(chunk("00dc", f))
    }
    val body = fcc("AVI ") ++ hdrl ++
      list("movi", moviBody.toByteArray) ++ chunk("idx1", idx.toByteArray)
    fcc("RIFF") ++ le32(body.length) ++ body
  }

  /** Walk a RIFF/AVI container and return the video frame payloads:
    * every `..dc`/`..db` chunk inside a `movi` list (nested `rec `
    * lists included), in stream order. Pure container parsing — the
    * ~100 lines an MJPEG demuxer actually is — feeding each frame's
    * bytes to the JDK's real JPEG decoder downstream. Truncated or
    * lying containers surface as empty frame lists / decoder nulls,
    * never as reads past the payload (every chunk span is bounds-
    * checked against the buffer).
    */
  private[graft] def aviFrames(b: Array[Byte]): Seq[Array[Byte]] = {
    require(isAviPayload(b), "not a RIFF/AVI payload")
    def le32(off: Int): Int =
      (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
        ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)
    def fcc(off: Int): String = new String(b, off, 4, "US-ASCII")
    val out = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    def walk(start: Int, end: Int, inMovi: Boolean): Unit = {
      var pos = start
      while (pos + 8 <= end) {
        val id = fcc(pos)
        val size = le32(pos + 4)
        val body = pos + 8
        if (size >= 0 && body + size <= end) {
          if (id == "LIST" && size >= 4) {
            val typ = fcc(body)
            walk(body + 4, body + size,
              inMovi || typ == "movi" || typ == "rec ")
          } else if (inMovi && (id.endsWith("dc") || id.endsWith("db")))
            out += java.util.Arrays.copyOfRange(b, body, body + size)
        }
        pos = body + size + (size & 1) // chunks pad to even offsets
      }
    }
    walk(12, math.min(b.length, 8 + le32(4)), inMovi = false)
    out.toSeq
  }

  /** Mean luma of a decoded raster, 0..255 channel-average — the
    * [[imageFeatures]] pass factored out for the video frame path.
    */
  private def meanLuma255(img: java.awt.image.BufferedImage): Double = {
    val w = img.getWidth
    val h = img.getHeight
    val rowBuf = new Array[Int](w)
    var lumaSum = 0.0
    var y = 0
    while (y < h) {
      img.getRGB(0, y, w, 1, rowBuf, 0, w)
      var x = 0
      while (x < w) {
        val rgb = rowBuf(x)
        lumaSum += (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) +
          (rgb & 0xff)) / 3.0
        x += 1
      }
      y += 1
    }
    lumaSum / (w.toLong * h)
  }

  case class EncodedVideo(media_id: Long, avi: Array[Byte])

  case class VideoFrame(media_id: Long, frame_idx: Long, width: Long,
      height: Long, luma_level: Long)

  /** REAL MJPEG-in-AVI encode: frame f of video `id` is a solid
    * 48×32 gray raster at level `(id + f) % 4` (gray value
    * 32 + 64·level), written through the JDK's actual JPEG encoder
    * and wrapped in a [[buildAviMjpeg]] RIFF container — genuine
    * codec bytes inside a genuine container, the video analogue of
    * [[encodePattern]]. 48×32 keeps every 8×8 JPEG DCT block inside
    * one solid region, so lossy quantization moves each block's mean
    * by a few counts at most — far below the 64-count level steps the
    * decoder quantizes back to, which is what lets the oracle replay
    * the level in closed form from (id, f) alone.
    */
  def encodeVideoPattern(ds: Dataset[(Long, Int)]): Dataset[EncodedVideo] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      val bos = new java.io.ByteArrayOutputStream()
      it.map { case (id, nFrames) =>
        val frames = (0 until nFrames).map { f =>
          val img = new java.awt.image.BufferedImage(
            48, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = img.createGraphics()
          g.setColor(new java.awt.Color(
            (32 + 64 * java.lang.Math.floorMod(id + f, 4L).toInt) * 0x010101))
          g.fillRect(0, 0, 48, 32)
          g.dispose()
          bos.reset()
          javax.imageio.ImageIO.write(img, "jpg", bos)
          bos.toByteArray
        }
        EncodedVideo(id, buildAviMjpeg(frames, 48, 32, fps = 10))
      }
    }
  }

  /** REAL video decode — the stub [[decodeOne]] used to cover for AVI
    * payloads is gone: [[aviFrames]] walks the RIFF container, every
    * frame goes through `ImageIO`'s actual JPEG decoder, and the
    * output row carries the DECODED width/height plus the frame's
    * mean luma quantized back to the 64-count level grid (exact under
    * JPEG loss per [[encodeVideoPattern]]'s block alignment). Same
    * partition-iterator shape as [[extractFeatures]]; payload bytes
    * never leave the task, 5 longs per frame do.
    */
  def decodeAviFrames(ds: Dataset[EncodedVideo]): Dataset[VideoFrame] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.flatMap { r =>
        aviFrames(r.avi).zipWithIndex.map { case (jpeg, idx) =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(jpeg))
          require(img != null,
            s"media_id=${r.media_id} frame $idx: not a decodable JPEG")
          val level = math.max(0L, math.min(3L,
            math.round((meanLuma255(img) - 32.0) / 64.0)))
          VideoFrame(r.media_id, idx.toLong, img.getWidth.toLong,
            img.getHeight.toLong, level)
        }
      }
    }
  }

  /** MJPEG-in-AVI render of the 9×8 level patterns: frame f of video
    * `(id, seed)` is [[encodePattern]]'s raster for pattern seed
    * `seed * 31 + f`, JPEG-encoded and wrapped in a [[buildAviMjpeg]]
    * container. `cell` scales the frame resolution (9·cell × 8·cell)
    * WITHOUT changing any frame's [[dHash64]]: the hash block-averages
    * to the same 9×8 grid, every pattern cell is solid at any integer
    * cell size, and cell sizes that are multiples of 8 keep each JPEG
    * DCT block inside one solid region — so two renders of the same
    * seeds at different resolutions are the classic re-encoded video
    * copy: different in every payload byte, identical in perceptual
    * frame content.
    */
  def encodePatternVideo(ds: Dataset[(Long, Long)], nFrames: Int,
      cell: Int): Dataset[EncodedVideo] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      val bos = new java.io.ByteArrayOutputStream()
      val w = 9 * cell
      val h = 8 * cell
      val px = new Array[Int](w * h)
      it.map { case (id, seed) =>
        val frames = (0 until nFrames).map { f =>
          val levels = patternLevels(seed * 31 + f)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              px(y * w + x) =
                (32 + 64 * levels((y / cell) * 9 + (x / cell))) * 0x010101
              x += 1
            }
            y += 1
          }
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          img.setRGB(0, 0, w, h, px, 0, w)
          bos.reset()
          javax.imageio.ImageIO.write(img, "jpg", bos)
          bos.toByteArray
        }
        EncodedVideo(id, buildAviMjpeg(frames, w, h, fps = 10))
      }
    }
  }

  case class VideoSig(media_id: Long, vsig: String)

  /** Perceptual VIDEO signature: decode every frame for real
    * ([[aviFrames]] + JPEG decode), [[dHash64]] each, md5 the ordered
    * hash sequence. Re-encoded copies of a video (other resolution,
    * other JPEG quality) signature-match because each frame's dHash
    * survives anything preserving coarse luma structure; videos with
    * any differing frame, extra frame, or reordered frames do not.
    * Zero-exchange per row: payload in, 16-byte signature out — the
    * signature is what a corpus-scale near-dup equi-join shuffles,
    * never frames or payloads.
    */
  def videoSignatures(ds: Dataset[EncodedVideo]): Dataset[VideoSig] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { r =>
        val hashes = aviFrames(r.avi).map { jpeg =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(jpeg))
          require(img != null,
            s"media_id=${r.media_id}: undecodable frame")
          dHash64(img)
        }
        val digest = md.digest(
          hashes.mkString(":").getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        md.reset()
        VideoSig(r.media_id, digest)
      }
    }
  }

  case class FrameRow(media_id: Long, frame_idx: Long, frame_checksum: String)

  /** Frame sampling: one payload row expands to every `every`-th
    * frame, at most `maxFrames` of them — the row-expanding
    * mapPartitions shape (iterator flatMap, codec init once per
    * partition) an ffmpeg binding would use.
    *
    * Image payloads (magic-sniffed) are decoded for REAL: a still
    * image is its own single frame, fingerprinted from the DECODED
    * properties (`"<w>x<h>:<px00>"` md5) — never the payload bytes,
    * which vary across encoders. AVI payloads are decoded for REAL
    * too ([[aviFrames]] container walk + JPEG decode per frame — the
    * branch that used to be the video stub): every `every`-th frame
    * up to `maxFrames`, fingerprinted from its decoded dimensions and
    * quantized luma level, so a re-encoded copy of the same video
    * fingerprints identically. Only payloads with NO JDK-decodable
    * format left (unknown binary) use the STUB: the frame count
    * derives from the payload byte length (40 bytes ≙ one fake frame)
    * and each "frame" is fingerprinted as the md5 of the payload
    * bytes plus a `#<idx>` suffix — deterministic, so any engine
    * reproduces it from the source text.
    */
  def sampleFrames(ds: Dataset[MediaRow], every: Int,
      maxFrames: Int): Dataset[FrameRow] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      // per-partition init would go here (demuxer handles, buffers)
      val md = java.security.MessageDigest.getInstance("MD5")
      def fp(bytes: Array[Byte]): String = {
        val digest = md.digest(bytes).map("%02x".format(_)).mkString
        md.reset()
        digest
      }
      it.flatMap { row =>
        val img = tryDecodeImage(row.content)
        if (img != null) {
          val key = s"${img.getWidth}x${img.getHeight}:" +
            s"${img.getRGB(0, 0) & 0xffffff}"
          Seq(FrameRow(row.media_id, 0L, fp(key.getBytes("UTF-8"))))
        } else if (isAviPayload(row.content)) {
          val frames = aviFrames(row.content)
          (0 until maxFrames).map(_.toLong * every)
            .filter(_ < frames.length).flatMap { i =>
              val f = javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(frames(i.toInt)))
              // an undecodable frame inside a valid container is
              // dropped, same contract as [[dHash]] on lying payloads
              Option(f).map { fr =>
                val key = s"${fr.getWidth}x${fr.getHeight}:L" +
                  math.round(meanLuma255(fr) / 64.0)
                FrameRow(row.media_id, i, fp(key.getBytes("UTF-8")))
              }
            }
        } else {
          val nFrames = row.content.length / 40 + 1
          (0 until maxFrames).map(_.toLong * every).filter(_ < nFrames).map { i =>
            FrameRow(row.media_id, i,
              fp(row.content ++ s"#$i".getBytes("UTF-8")))
          }
        }
      }
    }
  }

  case class EncodedImage(media_id: Long, png: Array[Byte])

  case class DecodedImage(media_id: Long, width: Long, height: Long,
      px00: Long)

  /** REAL PNG encode — no stub: a solid-color image is rasterized and
    * written through `javax.imageio`'s actual PNG encoder, so the
    * payload column carries genuine codec output. The mapPartitions
    * shape is [[extractFeatures]]'s: stream the iterator, reuse
    * per-partition buffers, never materialize a partition.
    */
  def encodePng(ds: Dataset[(Long, Int, Int, Int)]): Dataset[EncodedImage] =
    encodeImage(ds, "png")

  /** Format-generic twin of [[encodePng]]: `format` is any writer
    * `ImageIO` ships ("png", "jpg", "gif", "bmp"). JPEG output is
    * LOSSY — oracles over JPEG payloads must pin dimensions and coarse
    * pixel bands, never exact pixel values or bytes.
    */
  def encodeImage(ds: Dataset[(Long, Int, Int, Int)],
      format: String): Dataset[EncodedImage] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      val bos = new java.io.ByteArrayOutputStream()
      it.map { case (id, w, h, rgb) =>
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = img.createGraphics()
        g.setColor(new java.awt.Color(rgb))
        g.fillRect(0, 0, w, h)
        g.dispose()
        bos.reset()
        javax.imageio.ImageIO.write(img, format, bos)
        EncodedImage(id, bos.toByteArray)
      }
    }
  }

  /** REAL image decode — no stub: `ImageIO.read` parses the actual
    * bytes (format-sniffed, so PNG and JPEG payloads both decode);
    * dimensions and the top-left pixel come from the decoded raster.
    * Encoded bytes are NOT portable across encoders (PNG filtering
    * choices differ, JPEG is lossy), so correctness oracles pin the
    * decoded properties, never the payload — the encode∘decode
    * identity is what certifies both codec calls ran for real.
    */
  def decodePng(ds: Dataset[EncodedImage]): Dataset[DecodedImage] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.map { r =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(r.png))
        require(img != null, s"media_id=${r.media_id}: not a decodable image")
        DecodedImage(r.media_id, img.getWidth.toLong, img.getHeight.toLong,
          (img.getRGB(0, 0) & 0xffffff).toLong)
      }
    }
  }

  /** Per-cell luma levels (0..3) of the deterministic 9×8 test
    * pattern for `seed` — a chained draw that NEVER repeats a level
    * between horizontally adjacent cells, so every dHash comparison
    * sits across a ≥64-count luma step: large enough that a lossy
    * JPEG re-encode's block-mean error (a few counts) cannot flip the
    * comparison, which is what makes a JPEG copy of a PNG land within
    * the Hamming radius of its source. The draw mixes through a
    * splitmix64-style finalizer — a LINEAR congruential mix would make
    * every seed's step sequence a shift of one shared orbit (the
    * sequence over cell index is an arithmetic progression, so seed
    * deltas translate to index shifts) and collapse 2500 seeds onto
    * ~800 distinct hashes; the oracle never replays the mix (it pins
    * only the planted pair list), so only determinism matters here.
    */
  private[graft] def patternLevels(seed: Long): Array[Int] = {
    def mix(i: Int): Long = {
      var z = seed * 0x9E3779B97F4A7C15L + i.toLong * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val out = new Array[Int](72)
    out(0) = java.lang.Math.floorMod(mix(0), 4L).toInt
    var i = 1
    while (i < 72) {
      out(i) = (out(i - 1) + 1 +
        java.lang.Math.floorMod(mix(i), 3L).toInt) % 4
      i += 1
    }
    out
  }

  /** Render the seed's 9×8 level pattern as a real image through an
    * actual `ImageIO` codec, each pattern cell a `cell`×`cell` block
    * of solid gray `32 + 64·level`. Same codec contract as
    * [[encodeImage]]: genuine payload bytes, so PNG output decodes
    * exactly and JPEG output is lossy — which is precisely the planted
    * near-duplicate pair [[dHash]] + banded Hamming search must find.
    * The default cell size of 8 aligns each pattern cell with exactly
    * one JPEG 8×8 DCT block: a solid block is pure DC, so lossy
    * quantization moves its mean by a few counts at most — far below
    * the 64-count steps — and the JPEG copy's dHash matches its PNG
    * source with zero flipped comparisons.
    */
  def encodePattern(ds: Dataset[(Long, Long)],
      format: String, cell: Int = 8): Dataset[EncodedImage] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      val bos = new java.io.ByteArrayOutputStream()
      val w = 9 * cell
      val h = 8 * cell
      val px = new Array[Int](w * h) // reused across rows in the partition
      it.map { case (id, seed) =>
        val levels = patternLevels(seed)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            px(y * w + x) = (32 + 64 * levels((y / cell) * 9 + (x / cell))) * 0x010101
            x += 1
          }
          y += 1
        }
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        img.setRGB(0, 0, w, h, px, 0, w) // one bulk write, no per-pixel calls
        bos.reset()
        javax.imageio.ImageIO.write(img, format, bos)
        EncodedImage(id, bos.toByteArray)
      }
    }
  }

  case class ImageHash(media_id: Long, dhash: Long)

  /** 64-bit difference hash of a decoded raster — the standard
    * perceptual fingerprint (block-average the luma to a 9×8 grid,
    * emit one bit per horizontally adjacent cell comparison). Robust
    * to re-encoding and resizing because it survives anything that
    * preserves coarse luma structure; bit `y*8+x` = cell (x+1,y)
    * brighter than cell (x,y).
    */
  def dHash64(img: java.awt.image.BufferedImage): Long = {
    val (gw, gh) = (9, 8)
    val w = img.getWidth
    val h = img.getHeight
    val sums = new Array[Double](gw * gh)
    val counts = new Array[Long](gw * gh)
    val rowBuf = new Array[Int](w)
    var y = 0
    while (y < h) {
      img.getRGB(0, y, w, 1, rowBuf, 0, w)
      val gy = y * gh / h
      var x = 0
      while (x < w) {
        val gx = x * gw / w
        val rgb = rowBuf(x)
        sums(gy * gw + gx) += (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) +
          (rgb & 0xff)) / 3.0
        counts(gy * gw + gx) += 1
        x += 1
      }
      y += 1
    }
    var hash = 0L
    var gy = 0
    while (gy < gh) {
      var gx = 0
      while (gx < 8) {
        val a = sums(gy * gw + gx) / counts(gy * gw + gx)
        val b = sums(gy * gw + gx + 1) / counts(gy * gw + gx + 1)
        if (b > a) hash |= 1L << (gy * 8 + gx)
        gx += 1
      }
      gy += 1
    }
    hash
  }

  /** [[dHash64]] over a media corpus: decode each image payload
    * (magic-sniffed, [[tryDecodeImage]]) and emit its perceptual
    * hash; non-image / undecodable payloads are dropped — a
    * perceptual hash of bytes that never decoded would be noise. Same
    * partition-iterator shape as [[extractFeatures]]; the output is
    * 16 bytes per row, which is what the downstream banded Hamming
    * join shuffles instead of payloads.
    */
  def dHash(ds: Dataset[MediaRow]): Dataset[ImageHash] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.flatMap { row =>
        val img = tryDecodeImage(row.content)
        if (img == null) None else Some(ImageHash(row.media_id, dHash64(img)))
      }
    }
  }

  case class ResizedMeta(
      media_id: Long,
      target_w: Int,
      target_h: Int,
      scale_x_micro: Long,
      scale_y_micro: Long)

  /** Resize planning: per payload, the scale factors from the decoded
    * dimensions to a target box — the 1:1 mapPartitions shape of a
    * batch resizer. Image payloads are decoded for REAL (`ImageIO`
    * header dimensions); only video/opaque payloads use the STUB
    * dimensions. Scales are fixed-point so any engine reproduces them.
    */
  def resizePlan(ds: Dataset[MediaRow], targetW: Int,
      targetH: Int): Dataset[ResizedMeta] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.map { row =>
        val img = tryDecodeImage(row.content)
        val (w, h) =
          if (img != null) (img.getWidth, img.getHeight)
          else {
            val f = decodeOne(row.media_id, row.mime, row.content, "")
            (f.width, f.height)
          }
        ResizedMeta(row.media_id, targetW, targetH,
          math.floor(targetW * 1e6 / w).toLong,
          math.floor(targetH * 1e6 / h).toLong)
      }
    }
  }

  case class EncodedAudio(media_id: Long, wav: Array[Byte])

  case class DecodedAudio(media_id: Long, sample_rate: Long,
      channels: Long, n_frames: Long, peak: Long)

  /** REAL WAV encode — no stub: 16-bit mono PCM frames (a constant
    * `amplitude` tone; little-endian shorts) written through the JDK's
    * actual RIFF/WAVE encoder (`javax.sound.sampled.AudioSystem`). The
    * payload column carries genuine codec output, same contract as
    * [[encodePng]].
    */
  def encodeWav(ds: Dataset[(Long, Int, Int, Int)]): Dataset[EncodedAudio] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.map { case (id, sampleRate, nFrames, amplitude) =>
        val pcm = new Array[Byte](nFrames * 2)
        var i = 0
        while (i < nFrames) {
          pcm(2 * i) = (amplitude & 0xff).toByte
          pcm(2 * i + 1) = ((amplitude >> 8) & 0xff).toByte
          i += 1
        }
        val fmt = new javax.sound.sampled.AudioFormat(
          sampleRate.toFloat, 16, 1, true, false)
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        EncodedAudio(id, bos.toByteArray)
      }
    }
  }

  /** [[encodeWavSquare]] with a per-window amplitude CONTOUR from the
    * seed's chained level draw ([[patternLevels]], first 65 of 72):
    * 65 windows × 120 frames, window w a ±(1000 + 4000·level(w))·scale
    * square wave — audio whose energy envelope carries structure, the
    * waveform [[audioFingerprint]] hashes. `scale` produces a LOUDER
    * copy of the same recording (every sample scales exactly), the
    * audio analogue of p77's JPEG re-encode: a planted near-duplicate
    * that differs in every byte but not in contour.
    */
  def encodeWavPattern(ds: Dataset[(Long, Long)],
      scale: Int = 1): Dataset[EncodedAudio] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.map { case (id, seed) =>
        val levels = patternLevels(seed)
        val nFrames = 65 * 120
        val pcm = new Array[Byte](nFrames * 2)
        var i = 0
        while (i < nFrames) {
          val amp = (1000 + 4000 * levels(i / 120)) * scale
          val s = if ((i / 4) % 2 == 0) amp else -amp
          pcm(2 * i) = (s & 0xff).toByte
          pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
          i += 1
        }
        val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        EncodedAudio(id, bos.toByteArray)
      }
    }
  }

  case class AudioHash(media_id: Long, afp: Long)

  /** 64-bit energy-contour fingerprint over REALLY decoded PCM — the
    * audio analogue of [[dHash64]]: split the frame stream into 65
    * equal windows, take each window's mean |sample|, emit one bit
    * per adjacent-window comparison. SCALE-INVARIANT by construction
    * (a louder or quieter copy preserves every comparison exactly —
    * integer sums scale linearly), so re-leveled copies of a
    * recording land at Hamming distance 0 and feed the same banded
    * [[graft.pipeline.Dedup.hammingPairs]] join as image dHashes.
    * Zero-exchange: decode + hash per row, 16 bytes out.
    */
  def audioFingerprint(ds: Dataset[EncodedAudio]): Dataset[AudioHash] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.map { r =>
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(r.wav))
        val bytes = ais.readAllBytes()
        val n = bytes.length / 2
        val sums = new Array[Long](65)
        val counts = new Array[Long](65)
        var i = 0
        while (i < n) {
          val s = ((bytes(2 * i) & 0xff) | (bytes(2 * i + 1) << 8)).toShort
          val w = (i.toLong * 65 / n).toInt
          sums(w) += math.abs(s.toLong)
          counts(w) += 1
          i += 1
        }
        var hash = 0L
        var w = 0
        while (w < 64) {
          // mean comparison via cross-multiplied integer sums: exact,
          // no double rounding
          if (sums(w + 1) * counts(w) > sums(w) * counts(w + 1))
            hash |= 1L << w
          w += 1
        }
        AudioHash(r.media_id, hash)
      }
    }
  }

  /** REAL WAV decode — no stub: `AudioSystem.getAudioInputStream`
    * parses the actual RIFF header (sample rate, channels, frame
    * count) and the PCM frames are read back for a peak-sample stat —
    * the audio analogue of [[decodePng]], and the same oracle
    * contract: decoded properties are pinned, payload bytes never are.
    */
  def decodeWav(ds: Dataset[EncodedAudio]): Dataset[DecodedAudio] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.map { r =>
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(r.wav))
        val fmt = ais.getFormat
        val frames = ais.getFrameLength
        val bytes = ais.readAllBytes()
        var peak = 0L
        var i = 0
        while (i + 1 < bytes.length) {
          val s = ((bytes(i) & 0xff) | (bytes(i + 1) << 8)).toShort
          if (math.abs(s.toLong) > peak) peak = math.abs(s.toLong)
          i += 2
        }
        DecodedAudio(r.media_id, fmt.getSampleRate.toLong,
          fmt.getChannels.toLong, frames, peak)
      }
    }
  }

  /** Square-wave variant of [[encodeWav]]: frame i carries
    * `+amplitude` when `(i / period) % 2 == 0`, else `-amplitude` —
    * a waveform with sign structure, so downstream feature extraction
    * (zero crossings, energy) is non-degenerate. Same REAL RIFF/WAVE
    * encoder, 16-bit mono little-endian PCM.
    */
  def encodeWavSquare(ds: Dataset[(Long, Int, Int, Int, Int)]): Dataset[EncodedAudio] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.map { case (id, sampleRate, nFrames, amplitude, period) =>
        val pcm = new Array[Byte](nFrames * 2)
        var i = 0
        while (i < nFrames) {
          val s = if ((i / period) % 2 == 0) amplitude else -amplitude
          pcm(2 * i) = (s & 0xff).toByte
          pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
          i += 1
        }
        val fmt = new javax.sound.sampled.AudioFormat(
          sampleRate.toFloat, 16, 1, true, false)
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        EncodedAudio(id, bos.toByteArray)
      }
    }
  }

  case class AudioFeatures(media_id: Long, n_frames: Long, peak: Long,
      energy: Long, n_crossings: Long)

  /** Audio feature extraction over REAL decoded PCM: parse the RIFF
    * header with `AudioSystem`, read the 16-bit frames back, and
    * compute exact integer features — peak amplitude, energy (sum of
    * squared samples), and sign-change (zero-crossing) count. Integer
    * math end to end, so the oracle reproduces every value exactly;
    * per-partition 1:1 map, no exchange.
    */
  def audioFeatures(ds: Dataset[EncodedAudio]): Dataset[AudioFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.map { r =>
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(r.wav))
        val frames = ais.getFrameLength
        val bytes = ais.readAllBytes()
        var peak = 0L
        var energy = 0L
        var crossings = 0L
        var prev = 0
        var i = 0
        while (i + 1 < bytes.length) {
          val s = ((bytes(i) & 0xff) | (bytes(i + 1) << 8)).toShort.toInt
          if (math.abs(s.toLong) > peak) peak = math.abs(s.toLong)
          energy += s.toLong * s.toLong
          if (i >= 2 && ((s < 0) != (prev < 0))) crossings += 1
          prev = s
          i += 2
        }
        AudioFeatures(r.media_id, frames, peak, energy, crossings)
      }
    }
  }

  /** [[resizePlan]] over REAL decoded dimensions: the payloads are
    * actual PNGs and width/height come from `ImageIO.read`, not the
    * stub — the full resize-planning path a batch image pipeline runs
    * (decode → compute scale factors), per partition, fixed-point
    * scales.
    */
  def resizePlanPng(ds: Dataset[EncodedImage], targetW: Int,
      targetH: Int): Dataset[ResizedMeta] = {
    import ds.sparkSession.implicits._
    decodePng(ds).map { d =>
      ResizedMeta(d.media_id, targetW, targetH,
        math.floor(targetW * 1e6 / d.width).toLong,
        math.floor(targetH * 1e6 / d.height).toLong)
    }
  }

  /** Build a media table from the documents table by treating the
    * UTF-8 bytes as an opaque payload — the driver testdata carries no
    * real image column, so this is the plumbing-exercise source.
    */
  def mediaFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(
        col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("content"),
        lit("text/plain").as("mime"))
      .as[MediaRow]
  }

  /** Mixed media table from documents: EVEN doc_ids become real PNG
    * payloads (doc-derived dimensions 1+id%16 × 1+len%16 and gray
    * color (id%256)·0x010101, written through the actual encoder —
    * the p57 recipe), ODD doc_ids stay opaque text payloads. One
    * corpus that exercises both the real-decode path and the
    * documented video/opaque stub, with every decoded property
    * derivable from the doc attributes so oracles replay it in
    * closed form.
    */
  def mixedMediaFromDocuments(spark: SparkSession,
      docs: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    val evens = docs.filter(pmod(col("doc_id"), lit(2)) === 0).select(
        col("doc_id"),
        (lit(1) + pmod(col("doc_id"), lit(16))).cast("int"),
        (lit(1) + pmod(length(col("text")), lit(16))).cast("int"),
        (pmod(col("doc_id"), lit(256)) * 65793).cast("int"))
      .as[(Long, Int, Int, Int)]
    val pngs = encodePng(evens)
      .map(e => MediaRow(e.media_id, e.png, "image/png"))
    val texts = mediaFromDocuments(spark,
      docs.filter(pmod(col("doc_id"), lit(2)) === 1))
    pngs.union(texts)
  }
}
