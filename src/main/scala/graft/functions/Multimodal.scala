package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Multimodal-column plumbing (builder mandate): image/audio/video payloads
  * as opaque `binary` columns with typed metadata, decoded and
  * feature-extracted in executor-side batches.
  *
  * The Spark-side shape is real and tested — schema, partitioning, batch
  * grouping, feature arrays. The decode seam ([[decode]]) dispatches on
  * `meta.kind`:
  *   - `image` decodes LIVE via JDK-only `javax.imageio` (PNG/JPEG/BMP/GIF
  *     readers ship with the JDK — no external codec): real pixel
  *     dimensions + an L1-normalized luminance histogram;
  *   - `audio` decodes LIVE via JDK-only `javax.sound.sampled` (WAV/AIFF/AU
  *     parsers ship with the JDK): sample rate + channels + an amplitude
  *     histogram;
  *   - `video` frame-decodes LIVE for MJPEG-in-AVI ([[decodeAviMjpeg]] —
  *     the one codec the stock JDK can decode) and probes LIVE metadata
  *     from the public ISO BMFF / EBML structures ([[probeMp4]] /
  *     [[probeMkv]]; pure JVM, no codec) with the payload byte histogram
  *     as features; for codecs the JVM lacks (H.264/HEVC) frame decode
  *     goes through the documented [[VideoFrameBridge]] extension
  *     contract (`spark.graft.videoBridgeClass`, fake-bridge-tested in
  *     MultimodalSpec) and otherwise falls back to the clearly-marked
  *     deterministic STUB.
  *
  * Batching mirrors `mapInPandas`: `mapPartitions` pulls rows in groups of
  * [[BATCH_SIZE]] so a real decoder could amortize model/codec init per
  * batch instead of per row.
  */
/** The external-bridge contract for video codecs the JVM cannot
  * frame-decode (H.264/HEVC/AV1 — the one seam keeping the multimodal
  * component `partial`): a ROW-LEVEL payload -> sampled-frames function,
  * implemented over whatever native decoder the deployment ships
  * (JNI/ffmpeg/javacv), put on the executor classpath, and named via the
  * `spark.graft.videoBridgeClass` conf ([[Multimodal.BRIDGE_CONF]]).
  *
  * The contract an implementation must honor:
  *   - DETERMINISTIC: same payload + maxFrames -> same Frames, always
  *     (the gate hash-checks outputs; a nondeterministic decoder would
  *     also break task retry at cluster scale);
  *   - BOUNDED: decode at most `maxFrames` evenly-strided frames however
  *     long the clip is (the [[Multimodal.FRAME_SAMPLE]] budget —
  *     [[Multimodal.decodeAviMjpeg]] is the in-process reference
  *     implementation of the same sampling contract);
  *   - `None` for payloads it does not handle — the decode chain then
  *     falls through to the header probes, never to an error;
  *   - each histogram is [[Multimodal.FEATURE_DIM]] luminance bins of one
  *     decoded frame (the chain averages them, exactly as the MJPEG path
  *     averages its per-frame histograms).
  *
  * MultimodalSpec's fake-bridge case drives a full extractFeatures run
  * through this interface, so the extension path is tested even though
  * no real codec ships in this environment. */
trait VideoFrameBridge extends Serializable {
  def decodeFrames(payload: Array[Byte], maxFrames: Int): Option[VideoFrameBridge.Frames]
}

object VideoFrameBridge {
  /** `width`/`height` of the first decoded frame; `histograms` = one
    * FEATURE_DIM luminance histogram per sampled frame, in frame order. */
  final case class Frames(width: Int, height: Int, histograms: Seq[Array[Float]])

  // one instance per (classloader, class name, executor JVM) — a bridge
  // wrapping a native library must init once per process, not once per
  // task. The RESOLVING LOADER is part of the key: on a long-lived
  // executor where the bridge jar is redeployed under a fresh context
  // classloader, a name-only cache would keep returning the instance
  // bound to the stale loader (stale native bindings, ClassCastException
  // against the new loader's interface class).
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    (ClassLoader, String), VideoFrameBridge]()

  /** Instantiate (or reuse) a bridge by class name; the class needs a
    * public no-arg constructor and must be on the executor classpath.
    * Resolved through the thread context classloader (falling back to
    * this class's own): jars shipped via `spark.jars`/`--jars` land in
    * the executor's MutableURLClassLoader, which is the CONTEXT loader —
    * a bare `Class.forName` from a system-classpath class cannot see
    * them, and the documented deployment path would throw
    * ClassNotFoundException on every video-bearing task. */
  def forName(className: String): VideoFrameBridge = {
    val loader = Option(Thread.currentThread().getContextClassLoader)
      .getOrElse(getClass.getClassLoader)
    cache.computeIfAbsent((loader, className), { case (ld, cn) =>
      Class.forName(cn, true, ld).getDeclaredConstructor().newInstance()
        .asInstanceOf[VideoFrameBridge]
    })
  }
}

object Multimodal {
  import Tables._

  val BATCH_SIZE = 64
  val FEATURE_DIM = 16

  /** Typed metadata carried next to every binary payload. */
  final case class MediaMeta(
      kind: String,          // image | audio | video | text
      formatHint: String,    // container/extension hint
      nBytes: Long)

  final case class MediaAsset(asset_id: Long, payload: Array[Byte], meta: MediaMeta)

  final case class MediaFeatures(
      asset_id: Long,
      kind: String,
      n_bytes: Long,
      width: Int,            // STUB-decoded "dimensions"
      height: Int,
      features: Array[Float])

  /** STUB decoder ===========================================================
    * Fallback for kinds without a codec in this environment (audio/video)
    * and for unreadable payloads. Deterministic fake — dimensions derived
    * from a content hash, features = L1-normalized 16-bin byte histogram.
    * Replace this single function to take audio/video live; images already
    * decode for real via [[decodeImage]].
    *
    * ENGINE-REPRODUCIBLE by construction (the q36/q64 sha2 trick): the
    * dimension hash is sha256 over the payload's uppercase hex — the one
    * byte representation DuckDB can also hash (its sha256 takes VARCHAR,
    * not BLOB) — and the histogram bin of a byte is just its high nibble,
    * i.e. the first hex char of its pair. That makes q41's whole output
    * (dims + float32 histogram arithmetic) rebuildable in SQL.
    * ======================================================================= */
  def decodeStub(payload: Array[Byte]): (Int, Int, Array[Float]) = {
    // the hex stream feeds the digest in 8 KB chunks — never a full
    // 2x-payload hex string plus its byte copy (a corrupt 500 MB asset
    // landing here would otherwise cost ~2 GB of transient heap in
    // exactly the fallback path that exists to survive bad payloads)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = new Array[Byte](8192)
    var bi = 0
    payload.foreach { b =>
      buf(bi) = HEX_UPPER.charAt((b >> 4) & 0xF).toByte
      buf(bi + 1) = HEX_UPPER.charAt(b & 0xF).toByte
      bi += 2
      if (bi == buf.length) { md.update(buf); bi = 0 }
    }
    if (bi > 0) md.update(buf, 0, bi)
    val dig = md.digest()
    val h = ((dig(0) & 0xFFL) << 24) | ((dig(1) & 0xFFL) << 16) |
      ((dig(2) & 0xFFL) << 8) | (dig(3) & 0xFFL)
    val width = (16 + (h % 1024)).toInt
    val height = (16 + ((h / 1024) % 1024)).toInt
    // exact LONG counts, converted to float once — a float accumulator
    // saturates at 2^24 (one ~17 MB single-bin payload would freeze it)
    // while the oracle's cnt::FLOAT rounds the exact count; long-then-
    // convert matches the oracle at ANY size and is bit-identical to the
    // old accumulator below 2^24
    val hist = new Array[Long](FEATURE_DIM)
    payload.foreach(b => hist((b & 0xFF) / FEATURE_DIM) += 1L)
    val total = math.max(payload.length, 1).toFloat
    (width, height, hist.map(_.toFloat / total))
  }

  private val HEX_UPPER = "0123456789ABCDEF"

  /** LIVE image decoder: JDK-only `javax.imageio` (PNG/JPEG/BMP/GIF readers
    * ship with every JDK). Returns real pixel dimensions and an
    * L1-normalized [[FEATURE_DIM]]-bin luminance histogram (ITU-R BT.601
    * integer weights). None when no installed reader recognizes the bytes —
    * the caller falls back to the stub so one corrupt payload can't fail a
    * 100 TB decode job. */
  def decodeImage(payload: Array[Byte]): Option[(Int, Int, Array[Float])] = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case _: java.io.IOException => null }
    if (img == null) None
    else {
      val w = img.getWidth
      val h = img.getHeight
      // exact LONG bin counts (a float accumulator saturates at 2^24 —
      // one 4096x4096 near-solid image crosses it), converted once
      val hist = new Array[Long](FEATURE_DIM)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val lum = (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
            (rgb & 0xFF) * 114) / 1000
          hist(lum * FEATURE_DIM / 256) += 1L
          x += 1
        }
        y += 1
      }
      val total = math.max(w.toLong * h, 1L).toFloat
      Some((w, h, hist.map(_.toFloat / total)))
    }
  }

  /** LIVE audio decoder: JDK-only `javax.sound.sampled` (WAV/AIFF/AU
    * parsers ship with every JDK — no external codec). Decodes to signed
    * 16-bit PCM and returns (sample_rate, channels) as the "dimensions"
    * plus an L1-normalized [[FEATURE_DIM]]-bin amplitude histogram — the
    * audio analog of the image luminance histogram. None when no installed
    * reader recognizes the bytes (MP3/OGG land here until a real codec is
    * wired in); the caller falls back to the stub so one bad payload can't
    * fail a 100 TB decode job. */
  def decodeAudio(payload: Array[Byte]): Option[(Int, Int, Array[Float])] = {
    import javax.sound.sampled.{AudioFormat, AudioSystem}
    try {
      val raw = AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      val f = raw.getFormat
      val pcmFmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
        f.getSampleRate, 16, f.getChannels, f.getChannels * 2,
        f.getSampleRate, false)
      val pcm = AudioSystem.getAudioInputStream(pcmFmt, raw)
      val bytes = pcm.readAllBytes()
      // exact LONG bin counts — same 2^24 float-saturation guard as the
      // image and stub histograms
      val hist = new Array[Long](FEATURE_DIM)
      var i = 0
      while (i + 1 < bytes.length) {
        val s = ((bytes(i) & 0xFF) | (bytes(i + 1) << 8)).toShort
        hist((s + 32768) / (65536 / FEATURE_DIM)) += 1L
        i += 2
      }
      val n = math.max(bytes.length / 2, 1).toFloat
      Some((f.getSampleRate.toInt, f.getChannels, hist.map(_.toFloat / n)))
    } catch {
      case _: javax.sound.sampled.UnsupportedAudioFileException => None
      case _: java.io.IOException => None
      case _: IllegalArgumentException => None // no PCM conversion path
    }
  }

  /** Parsed ISO BMFF movie-header facts (all from public box structure —
    * no codec touched). */
  final case class VideoMeta(width: Int, height: Int, durationMs: Long)

  /** LIVE video metadata probe: walks the public ISO BMFF (MP4/MOV/M4A)
    * box structure (ISO/IEC 14496-12) — `moov/mvhd` for
    * timescale+duration, each `moov/trak/tkhd` for 16.16 fixed-point
    * track dimensions (the video track is the one with nonzero extent).
    * Pure JVM byte walking, no codec, never reads past the header boxes —
    * at 100 TB this is exactly the kind of metadata pass that must not
    * decode frames. None when the bytes aren't BMFF or the needed boxes
    * are absent/truncated (the caller falls back to the stub). */
  def probeMp4(payload: Array[Byte]): Option[VideoMeta] = {
    val n = payload.length.toLong
    def u32(o: Long): Long =
      ((payload(o.toInt) & 0xFFL) << 24) | ((payload(o.toInt + 1) & 0xFFL) << 16) |
        ((payload(o.toInt + 2) & 0xFFL) << 8) | (payload(o.toInt + 3) & 0xFFL)
    def u64(o: Long): Long = (u32(o) << 32) | u32(o + 4)
    def boxType(o: Long): String = new String(payload, o.toInt + 4, 4, "US-ASCII")
    // (type, bodyStart, bodyEnd) of each box in [start, end); stops at the
    // first malformed/truncated header rather than guessing
    def children(start: Long, end: Long): Seq[(String, Long, Long)] = {
      val out = Seq.newBuilder[(String, Long, Long)]
      var off = start
      var ok = true
      while (ok && off + 8 <= end) {
        val size0 = u32(off)
        val (hdr, size) =
          if (size0 == 1L && off + 16 <= end) (16L, u64(off + 8))
          else if (size0 == 0L) (8L, end - off) // "to end of file" box
          else (8L, size0)
        if (size < hdr || off + size > end) ok = false
        else {
          out += ((boxType(off), off + hdr, off + size))
          off += size
        }
      }
      out.result()
    }
    def mvhdDuration(s: Long, e: Long): Option[Long] = {
      val v = payload(s.toInt) & 0xFF
      val need = if (v == 1) 32L else 20L
      if (e - s < need) None
      else {
        val (ts, dur) =
          if (v == 1) (u32(s + 20), u64(s + 24)) else (u32(s + 12), u32(s + 16))
        if (ts <= 0) None else Some(dur * 1000L / ts)
      }
    }
    def tkhdDims(s: Long, e: Long): Option[(Int, Int)] = {
      val v = payload(s.toInt) & 0xFF
      val off = s + (if (v == 1) 88L else 76L)
      if (off + 8 > e) None
      else Some(((u32(off) >> 16).toInt, (u32(off + 4) >> 16).toInt))
    }
    val top = children(0L, n)
    // demand BMFF evidence, not just any parseable 8 bytes: an ftyp brand
    // or a moov must lead the file
    if (!top.exists(b => b._1 == "ftyp" || b._1 == "moov")) None
    else top.find(_._1 == "moov").flatMap { case (_, ms, me) =>
      val kids = children(ms, me)
      kids.find(_._1 == "mvhd")
        .flatMap { case (_, s, e) => mvhdDuration(s, e) }
        .map { dur =>
          val dims = kids.filter(_._1 == "trak")
            .flatMap { case (_, ts, te) =>
              children(ts, te).find(_._1 == "tkhd")
                .flatMap { case (_, s, e) => tkhdDims(s, e) }
            }
            .filter { case (w, h) => w > 0 && h > 0 }
          val (w, h) = if (dims.isEmpty) (0, 0)
            else dims.maxBy { case (a, b) => a.toLong * b }
          VideoMeta(w, h, dur)
        }
    }
  }

  /** LIVE Matroska/WebM metadata probe — the EBML sibling of [[probeMp4]]
    * (public structure per RFC 8794 + the Matroska element registry, no
    * codec): `Segment/Info` for TimestampScale+Duration,
    * `Segment/Tracks/TrackEntry/Video` for PixelWidth/PixelHeight. None
    * unless the payload leads with the EBML magic and carries a parseable
    * Segment. */
  def probeMkv(payload: Array[Byte]): Option[VideoMeta] = {
    val n = payload.length
    // EBML variable-length integer at off: (value, encodedLength). Element
    // IDs keep their marker bit (the registry lists them that way); sizes
    // strip it. All-ones size payload = "unknown size" -> caller treats as
    // to-end.
    def vint(off: Int, keepMarker: Boolean): Option[(Long, Int)] = {
      if (off >= n) None
      else {
        val b0 = payload(off) & 0xFF
        if (b0 == 0) None
        else {
          val len = Integer.numberOfLeadingZeros(b0) - 23 // 1..8
          if (off + len > n) None
          else {
            var v = (if (keepMarker) b0 else b0 & ((1 << (8 - len)) - 1)).toLong
            var i = 1
            while (i < len) { v = (v << 8) | (payload(off + i) & 0xFF); i += 1 }
            Some((v, len))
          }
        }
      }
    }
    def children(start: Int, end: Int): Seq[(Long, Int, Int)] = {
      val out = Seq.newBuilder[(Long, Int, Int)]
      var off = start
      var ok = true
      while (ok && off < end) {
        val parsed = for {
          (id, il) <- vint(off, keepMarker = true)
          (sz, sl) <- vint(off + il, keepMarker = false)
        } yield (id, off.toLong + il + sl, sz)
        parsed match {
          case Some((id, bodyStart, sz)) if bodyStart + sz <= end =>
            out += ((id, bodyStart.toInt, (bodyStart + sz).toInt))
            off = (bodyStart + sz).toInt
          case _ => ok = false
        }
      }
      out.result()
    }
    def uintAt(s: Int, e: Int): Long = {
      var v = 0L; var i = s
      while (i < e) { v = (v << 8) | (payload(i) & 0xFF); i += 1 }
      v
    }
    def floatAt(s: Int, e: Int): Double = (e - s) match {
      case 4 => java.lang.Float.intBitsToFloat(uintAt(s, e).toInt).toDouble
      case 8 => java.lang.Double.longBitsToDouble(uintAt(s, e))
      case _ => 0.0
    }
    val top = children(0, n)
    if (!top.headOption.exists(_._1 == 0x1A45DFA3L)) None // EBML magic first
    else top.find(_._1 == 0x18538067L).flatMap { case (_, ss, se) => // Segment
      val kids = children(ss, se)
      kids.find(_._1 == 0x1549A966L).map { case (_, is, ie) => // Info
        val info = children(is, ie)
        val scaleNs = info.find(_._1 == 0x2AD7B1L)
          .map { case (_, s, e) => uintAt(s, e) }.getOrElse(1000000L)
        val durUnits = info.find(_._1 == 0x4489L)
          .map { case (_, s, e) => floatAt(s, e) }.getOrElse(0.0)
        val durMs = (durUnits * scaleNs / 1e6).toLong
        val dims = kids.filter(_._1 == 0x1654AE6BL).flatMap { case (_, ts, te) => // Tracks
          children(ts, te).filter(_._1 == 0xAEL).flatMap { case (_, es, ee) => // TrackEntry
            children(es, ee).find(_._1 == 0xE0L).map { case (_, vs, ve) => // Video
              val v = children(vs, ve)
              (v.find(_._1 == 0xB0L).map { case (_, s, e) => uintAt(s, e).toInt }.getOrElse(0),
                v.find(_._1 == 0xBAL).map { case (_, s, e) => uintAt(s, e).toInt }.getOrElse(0))
            }
          }
        }.filter { case (w, h) => w > 0 && h > 0 }
        val (w, h) = if (dims.isEmpty) (0, 0)
          else dims.maxBy { case (a, b) => a.toLong * b }
        VideoMeta(w, h, durMs)
      }
    }
  }

  /** Minimal real EBML/Matroska header (EBML magic + Segment/Info +
    * Segment/Tracks/TrackEntry/Video) — the MKV counterpart of
    * [[buildMp4Header]], used by MultimodalSpec to round-trip
    * [[probeMkv]] against structure built from the registry, not from the
    * probe's own code. */
  def buildMkvHeader(width: Int, height: Int, durationMs: Int): Array[Byte] = {
    def idBytes(id: Long): Array[Byte] = {
      val len = (64 - java.lang.Long.numberOfLeadingZeros(id) + 7) / 8
      (1 to len).map(i => ((id >> (8 * (len - i))) & 0xFF).toByte).toArray
    }
    def sizeVint(sz: Int): Array[Byte] = {
      require(sz < 0x7F, s"1-byte size vint overflow: $sz")
      Array((0x80 | sz).toByte)
    }
    def el(id: Long, body: Array[Byte]): Array[Byte] =
      idBytes(id) ++ sizeVint(body.length) ++ body
    def uintBody(v: Long): Array[Byte] = {
      val len = math.max(1, (64 - java.lang.Long.numberOfLeadingZeros(v) + 7) / 8)
      (1 to len).map(i => ((v >> (8 * (len - i))) & 0xFF).toByte).toArray
    }
    val info = el(0x1549A966L,
      el(0x2AD7B1L, uintBody(1000000L)) ++ // 1 ms timestamp scale
        el(0x4489L, { // Duration as 4-byte float, in scale units (= ms)
          val bits = java.lang.Float.floatToIntBits(durationMs.toFloat)
          (1 to 4).map(i => ((bits >> (8 * (4 - i))) & 0xFF).toByte).toArray
        }))
    val tracks = el(0x1654AE6BL,
      el(0xAEL, el(0xE0L,
        el(0xB0L, uintBody(width.toLong)) ++ el(0xBAL, uintBody(height.toLong)))))
    el(0x1A45DFA3L, Array.empty[Byte]) ++ el(0x18538067L, info ++ tracks)
  }

  /** The decode seam q41 runs through: images and audio decode for real
    * (JDK codecs); MJPEG-in-AVI video frame-decodes for real
    * ([[decodeAviMjpeg]]); other codecs go through the
    * [[VideoFrameBridge]] extension contract when deployed, else parse
    * real header metadata (BMFF via [[probeMp4]], then Matroska via
    * [[probeMkv]]) with the byte histogram as features; any unreadable
    * payload takes the deterministic stub. */
  /** Frames sampled per MJPEG clip: an arbitrarily long video costs a
    * bounded decode budget (evenly-strided sample, same contract as
    * [[sampleFrameOffsets]]'s stride stub). */
  val FRAME_SAMPLE = 16

  /** LIVE video FRAME decode: Motion-JPEG in AVI — the one video codec
    * the stock JDK can frame-decode, because every `00dc`/`00db` movi
    * chunk is a standalone JPEG that javax.imageio reads like any still
    * (RIFF-AVI container walking per Microsoft's public AVI RIFF layout;
    * MJPEG frames per ISO/IEC 10918). This closes the frame-decode seam
    * the BMFF/EBML header probes left stubbed: dimensions come from REAL
    * pixels of the first sampled frame and the feature histogram is the
    * mean decoded-luminance histogram over up to [[FRAME_SAMPLE]]
    * evenly-strided frames. Bounds-checked byte walking — truncated or
    * alien payloads return None (then the header probes, then the stub),
    * so one corrupt asset can't fail a 100 TB decode job. */
  def decodeAviMjpeg(payload: Array[Byte]): Option[(Int, Int, Array[Float])] = {
    def u32(off: Int): Long =
      if (off < 0 || off + 4 > payload.length) -1L
      else (payload(off) & 0xFFL) | ((payload(off + 1) & 0xFFL) << 8) |
        ((payload(off + 2) & 0xFFL) << 16) | ((payload(off + 3) & 0xFFL) << 24)
    def fourcc(off: Int): String =
      if (off < 0 || off + 4 > payload.length) ""
      else new String(payload, off, 4, "US-ASCII")
    if (payload.length < 24 || fourcc(0) != "RIFF" || fourcc(8) != "AVI ")
      return None
    val frames = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    def walk(from: Int, to: Int, depth: Int): Unit = {
      var off = from
      var ok = true
      while (ok && off + 8 <= to && depth < 8) {
        val id = fourcc(off)
        val sz = u32(off + 4)
        if (sz < 0 || off + 8 + sz > to) ok = false // truncated: keep what parsed
        else {
          if (id == "LIST" && sz >= 4) {
            val lt = fourcc(off + 8)
            // frames live in movi (possibly grouped into 'rec ' lists);
            // hdrl's counts are advisory — the frames carry the truth
            if (lt == "movi" || lt == "rec ")
              walk(off + 12, off + 8 + sz.toInt, depth + 1)
          } else if (id.endsWith("dc") || id.endsWith("db")) {
            // a frame chunk whose body opens with the JPEG SOI marker
            if (sz >= 2 && (payload(off + 8) & 0xFF) == 0xFF &&
                (payload(off + 9) & 0xFF) == 0xD8)
              frames += ((off + 8, sz.toInt))
          }
          off += 8 + sz.toInt + (sz.toInt & 1) // chunks pad to even
        }
      }
    }
    walk(12, payload.length, 0)
    if (frames.isEmpty) return None
    val stride = math.max(1,
      math.ceil(frames.length.toDouble / FRAME_SAMPLE).toInt)
    val acc = new Array[Double](FEATURE_DIM)
    var w = 0; var h = 0; var n = 0
    frames.indices.by(stride).foreach { fi =>
      val (off, sz) = frames(fi)
      decodeImage(java.util.Arrays.copyOfRange(payload, off, off + sz)).foreach {
        case (fw, fh, feat) =>
          if (n == 0) { w = fw; h = fh }
          var i = 0
          while (i < FEATURE_DIM) { acc(i) += feat(i); i += 1 }
          n += 1
      }
    }
    if (n == 0) None
    else Some((w, h, acc.map(x => (x / n).toFloat)))
  }

  /** Conf key naming a [[VideoFrameBridge]] implementation class for the
    * codecs the JVM cannot frame-decode. Unset (the default) = no bridge:
    * the MJPEG -> header-probe -> stub chain is unchanged, so the
    * oracle-gated q41/q66/q94 outputs never depend on deployment. */
  val BRIDGE_CONF = "spark.graft.videoBridgeClass"

  /** Average the bridge's per-frame histograms into the decode-chain
    * feature shape; a throwing or empty bridge yields None (the chain
    * falls through to the header probes) — one bad asset or a buggy
    * bridge build must not fail a 100 TB decode job. */
  private def bridgeFrames(b: VideoFrameBridge,
      payload: Array[Byte]): Option[(Int, Int, Array[Float])] =
    try b.decodeFrames(payload, FRAME_SAMPLE).collect {
      case VideoFrameBridge.Frames(w, h, hists)
          if hists.nonEmpty && hists.forall(_.length == FEATURE_DIM) =>
        val acc = new Array[Double](FEATURE_DIM)
        hists.foreach { f =>
          var i = 0
          while (i < FEATURE_DIM) { acc(i) += f(i); i += 1 }
        }
        (w, h, acc.map(x => (x / hists.size).toFloat))
    } catch { case scala.util.control.NonFatal(_) => None }

  def decode(kind: String, payload: Array[Byte],
      bridge: Option[VideoFrameBridge] = None): (Int, Int, Array[Float]) =
    kind match {
      case "image" => decodeImage(payload).getOrElse(decodeStub(payload))
      case "audio" => decodeAudio(payload).getOrElse(decodeStub(payload))
      case "video" =>
        // real frames beat bridge frames beat header metadata beat the
        // stub: the in-process MJPEG decode is exact and free, the bridge
        // covers codecs the JVM lacks, the probes salvage dimensions from
        // anything structured, the stub guarantees a deterministic row
        decodeAviMjpeg(payload)
          .orElse(bridge.flatMap(bridgeFrames(_, payload))) match {
          case Some(f) => f
          case None => probeMp4(payload).orElse(probeMkv(payload)) match {
            case Some(m) => (m.width, m.height, decodeStub(payload)._3)
            case None => decodeStub(payload)
          }
        }
      case _ => decodeStub(payload)
    }

  /** documents.text bytes as stand-in binary payloads — exercises the full
    * binary-column path with real distributed data. */
  def assets(s: SparkSession, d: String): Dataset[MediaAsset] = {
    import s.implicits._
    documents(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"),
        col("source"),
        // byte length of the encoded payload, not the character count —
        // they differ on any multi-byte content
        octet_length(encode(col("text"), "UTF-8")).cast("long").as("n"))
      .map(r => MediaAsset(
        r.getLong(0), r.getAs[Array[Byte]](1),
        MediaMeta("text", r.getString(2), r.getLong(3))))
  }

  /** Batched decode + feature extraction. Rows are pulled in BATCH_SIZE
    * groups per partition (the mapInPandas batch shape); output is a flat
    * typed Dataset. */
  def extractFeatures(in: Dataset[MediaAsset]): Dataset[MediaFeatures] = {
    import in.sparkSession.implicits._
    // the bridge crosses the closure as a CLASS NAME (a plain string) and
    // is constructed once per executor JVM via VideoFrameBridge.forName's
    // process-level cache — a bridge wrapping a native decoder need not
    // be serializable, only present on the executor classpath. A
    // misconfigured name fails the task loudly (better than silently
    // stubbing 100 TB of frames).
    val bridgeClass = in.sparkSession.conf.get(BRIDGE_CONF, "")
    in.mapPartitions { rows =>
      val bridge =
        if (bridgeClass.isEmpty) None
        else Some(VideoFrameBridge.forName(bridgeClass))
      rows.grouped(BATCH_SIZE).flatMap { batch =>
        // per-batch init hook for a real decoder goes here
        batch.iterator.map { a =>
          val (w, h, feat) = decode(a.meta.kind, a.payload, bridge)
          MediaFeatures(a.asset_id, a.meta.kind, a.meta.nBytes, w, h, feat)
        }
      }
    }
  }

  /** Solid-color PNG, encoded with the JDK's own ImageIO writer. A
    * library building block (test-image synthesis) and the image side of
    * [[syntheticAssets]]. */
  def encodeSolidPng(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) { var x = 0; while (x < w) { img.setRGB(x, y, rgb); x += 1 }; y += 1 }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Solid-color JPEG via the JDK's own writer — the frame synthesis
    * building block for [[buildMjpegAvi]] fixtures. */
  def encodeSolidJpeg(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) { var x = 0; while (x < w) { img.setRGB(x, y, rgb); x += 1 }; y += 1 }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  /** Minimal-but-valid MJPEG AVI: RIFF('AVI ') carrying an avih + strl
    * header pair and a movi list of '00dc' JPEG chunks — the test-fixture
    * twin of [[decodeAviMjpeg]], written from the container layout
    * itself. The decoder must not trust this builder: MultimodalSpec
    * asserts the decoded frame facts from first principles. */
  def buildMjpegAvi(jpegFrames: Seq[Array[Byte]], w: Int, h: Int): Array[Byte] = {
    def le32(v: Int): Array[Byte] =
      Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
        ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val pad: Array[Byte] =
        if (body.length % 2 == 1) Array(0.toByte) else Array.emptyByteArray
      id.getBytes("US-ASCII") ++ le32(body.length) ++ body ++ pad
    }
    def list(lt: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", lt.getBytes("US-ASCII") ++ body)
    val avih = chunk("avih", le32(33366) ++ le32(0) ++ le32(0) ++ le32(0x10) ++
      le32(jpegFrames.length) ++ le32(0) ++ le32(1) ++ le32(0) ++
      le32(w) ++ le32(h) ++ Array.fill[Byte](16)(0))
    val strh = chunk("strh", "vids".getBytes("US-ASCII") ++
      "MJPG".getBytes("US-ASCII") ++ Array.fill[Byte](48)(0))
    val strf = chunk("strf", le32(40) ++ le32(w) ++ le32(h) ++
      Array[Byte](1, 0) ++ Array[Byte](24, 0) ++
      "MJPG".getBytes("US-ASCII") ++ Array.fill[Byte](20)(0))
    val hdrl = list("hdrl", avih ++ list("strl", strh ++ strf))
    val movi = list("movi",
      jpegFrames.toArray.flatMap(f => chunk("00dc", f)))
    val body = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
    "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
  }

  /** Silent 16-bit PCM mono WAV at the given rate — the audio side of
    * [[syntheticAssets]]. */
  def encodeSilentWav(sampleRate: Int, nSamples: Int): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val fmt = new AudioFormat(sampleRate.toFloat, 16, 1, true, false)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(new Array[Byte](nSamples * 2)),
      fmt, nSamples.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** MP4 pad geometry for [[buildMp4Header]] / the q94 oracle, fixed by
    * the ISO BMFF layout itself: ftyp(16) + moov(8 + mvhd 108 + trak(8 +
    * tkhd 92)) + free-header(8) = 240 bytes of structure, padded with
    * [[MP4_PAD_BYTE]] to exactly [[MP4_TOTAL]] bytes. Every structure
    * byte is < 0xF0 by construction (small sizes, ASCII types, unity
    * matrix), so the byte histogram's top bin is bin 15 with EXACTLY
    * `MP4_PAD` mass — a closed-form fact the oracle states from these
    * constants, independent of the builder code. */
  val MP4_TOTAL = 4096
  val MP4_STRUCT = 240
  val MP4_PAD = MP4_TOTAL - MP4_STRUCT // 3856 pad bytes
  val MP4_PAD_BYTE: Byte = 0xF8.toByte // bin 15 of the 16-bin histogram

  /** Minimal REAL ISO BMFF header (ftyp + moov/mvhd + moov/trak/tkhd,
    * exactly the boxes ISO/IEC 14496-12 mandates for movie metadata) with
    * a `free` box padding to [[MP4_TOTAL]] bytes — the video side of
    * [[syntheticAssets]]. The boxes are genuine: any BMFF parser reads
    * back the same width/height/duration [[probeMp4]] does. */
  def buildMp4Header(width: Int, height: Int, durationMs: Int): Array[Byte] = {
    def box(typ: String, body: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + body.length)
      bb.putInt(8 + body.length)
      bb.put(typ.getBytes("US-ASCII"))
      bb.put(body)
      bb.array()
    }
    def unityMatrix(bb: java.nio.ByteBuffer): Unit = {
      bb.putInt(0x00010000); bb.putInt(0); bb.putInt(0)
      bb.putInt(0); bb.putInt(0x00010000); bb.putInt(0)
      bb.putInt(0); bb.putInt(0); bb.putInt(0x40000000)
    }
    val mvhd = {
      val bb = java.nio.ByteBuffer.allocate(100)
      bb.putInt(0)               // version 0 + flags
      bb.putInt(0); bb.putInt(0) // creation/modification time
      bb.putInt(1000)            // timescale: 1 unit = 1 ms
      bb.putInt(durationMs)
      bb.putInt(0x00010000)      // rate 1.0
      bb.putShort(0x0100.toShort) // volume 1.0
      bb.putShort(0); bb.putLong(0L) // reserved
      unityMatrix(bb)
      (0 until 6).foreach(_ => bb.putInt(0)) // pre_defined
      bb.putInt(2)               // next_track_ID
      box("mvhd", bb.array())
    }
    val tkhd = {
      val bb = java.nio.ByteBuffer.allocate(84)
      bb.putInt(0x00000007)      // version 0 + enabled|in-movie|in-preview
      bb.putInt(0); bb.putInt(0) // creation/modification time
      bb.putInt(1)               // track_ID
      bb.putInt(0)               // reserved
      bb.putInt(durationMs)
      bb.putLong(0L)             // reserved
      bb.putShort(0); bb.putShort(0) // layer, alternate_group
      bb.putShort(0); bb.putShort(0) // volume (video track), reserved
      unityMatrix(bb)
      bb.putInt(width << 16)     // 16.16 fixed point
      bb.putInt(height << 16)
      box("tkhd", bb.array())
    }
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++ Array[Byte](0, 0, 0, 0))
    val moov = box("moov", mvhd ++ box("trak", tkhd))
    val structLen = ftyp.length + moov.length + 8
    require(structLen == MP4_STRUCT,
      s"BMFF layout drifted: $structLen structure bytes, expected $MP4_STRUCT")
    ftyp ++ moov ++ box("free", Array.fill[Byte](MP4_TOTAL - structLen)(MP4_PAD_BYTE))
  }

  /** Deterministic binary-asset fixture, synthesized EXECUTOR-SIDE (no
    * checked-in binaries): 16 solid-gray PNGs whose gray level encodes
    * the expected luminance bin (v = 16i + 8 -> bin i exactly, since the
    * BT.601 weights sum to 1000), 8 silent WAVs at distinct sample
    * rates (silence -> the zero-crossing bin, 8), and 8 minimal-but-real
    * MP4 headers at distinct dimensions (probed live from tkhd; byte
    * histogram peaks at the pad bin 15 with exactly MP4_PAD/MP4_TOTAL
    * mass). Every decoded fact — dimensions, sample rate, channel count,
    * histogram argmax — is derivable from first principles, so q94 can
    * hash-check the LIVE decode/probe paths against a closed-form
    * oracle: a regression turns a driver CORRECTNESS row red instead of
    * only a spec. */
  def syntheticAssets(s: SparkSession): Dataset[MediaAsset] = {
    import s.implicits._
    s.range(0, 32).map { i =>
      if (i < 16) {
        val v = i.toInt * 16 + 8
        val p = encodeSolidPng(8 + i.toInt, 4 + i.toInt, (v << 16) | (v << 8) | v)
        MediaAsset(i, p, MediaMeta("image", "png", p.length.toLong))
      } else if (i < 24) {
        val p = encodeSilentWav(8000 + 1000 * (i.toInt - 16), 256)
        MediaAsset(i, p, MediaMeta("audio", "wav", p.length.toLong))
      } else {
        // dimension/duration choices keep every encoded byte < 0xF0 (max
        // height 236 = 0xEC) so the pad-bin count stays exactly MP4_PAD
        val k = i.toInt - 24
        val p = buildMp4Header(320 + 16 * k, 180 + 8 * k, 1500 * (k + 1))
        MediaAsset(i, p, MediaMeta("video", "mp4", p.length.toLong))
      }
    }
  }

  /** Deterministic frame sampling STUB for video payloads: byte offsets of
    * every `stride`-th fake frame. Real version seeks keyframes. */
  def sampleFrameOffsets(nBytes: Long, stride: Long = 4096L): Seq[Long] =
    (0L until nBytes by stride).toSeq

  /** LIVE image resize (JDK-only: `java.awt.Graphics2D` bilinear scale +
    * `ImageIO` PNG re-encode — the preprocessing step every vision-data
    * pipeline runs before feature extraction). Returns the resized PNG
    * bytes, or None when no reader recognizes the payload (callers keep
    * the original, same contract as [[decodeImage]]). Runs inside the
    * batched [[extractFeatures]]-style `mapPartitions` shape: pure
    * executor-side CPU, no shuffle, scales with input splits. */
  def resizeImage(payload: Array[Byte], w: Int, h: Int): Option[Array[Byte]] = {
    require(w > 0 && h > 0, s"resize target ${w}x$h")
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case _: java.io.IOException => null }
    if (img == null) None
    else {
      val out = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      try {
        g.setRenderingHint(
          java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, w, h, null)
      } finally g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(out, "png", bos)
      Some(bos.toByteArray)
    }
  }

  /** Batched resize over a binary-column Dataset: images scale to
    * `w` x `h`, everything else passes through untouched — the
    * decode-seam dispatch pattern applied to a TRANSFORM (new payload +
    * corrected metadata) instead of an extraction. */
  def resizeAssets(in: Dataset[MediaAsset], w: Int, h: Int): Dataset[MediaAsset] = {
    import in.sparkSession.implicits._
    in.mapPartitions { rows =>
      rows.grouped(BATCH_SIZE).flatMap { batch =>
        batch.iterator.map { a =>
          if (a.meta.kind != "image") a
          else resizeImage(a.payload, w, h) match {
            case Some(p) =>
              // the resize re-encodes as PNG regardless of the original
              // container, so the hint must follow the bytes
              MediaAsset(a.asset_id, p,
                a.meta.copy(formatHint = "png", nBytes = p.length.toLong))
            case None => a
          }
        }
      }
    }
  }

  // ==== Perceptual image dedup (q141) ======================================

  /** dHash geometry: a 9x7 grayscale grid gives 8 column comparisons x 7
    * rows = 56 bits, split into 4 bands of 14 bits for the LSH bucket
    * join. 56 (not the classic 64) keeps the hash inside a non-negative
    * BIGINT so the DuckDB oracle can rebuild it with plain integer
    * arithmetic. */
  val DHASH_W = 9
  val DHASH_H = 7
  val DHASH_BITS: Int = (DHASH_W - 1) * DHASH_H // 56
  val DHASH_BANDS = 4
  val DHASH_BAND_BITS: Int = DHASH_BITS / DHASH_BANDS // 14

  /** LIVE perceptual difference-hash (dHash — the public compare-adjacent-
    * pixels algorithm, Krawetz 2013): decode via `javax.imageio`,
    * bilinear-downscale to [[DHASH_W]]x[[DHASH_H]] unless already there,
    * then bit `y*8+x` = [gray(x+1,y) > gray(x,y)] over the low color
    * channel (the fixture writes r=g=b; for real photos any fixed channel
    * is a valid gray proxy under dHash's compare-only use). Invariant to
    * uniform brightness shifts and to lossless re-encoding (PNG/BMP of
    * the same pixels hash identically) — exactly the duplicate classes
    * byte-level dedup (q34) cannot see. None when no JDK reader
    * recognizes the payload. */
  def dhashImage(payload: Array[Byte]): Option[Long] = {
    val img0 =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case _: java.io.IOException => null }
    if (img0 == null) None
    else {
      val img =
        if (img0.getWidth == DHASH_W && img0.getHeight == DHASH_H) img0
        else {
          val out = new java.awt.image.BufferedImage(
            DHASH_W, DHASH_H, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = out.createGraphics()
          try {
            g.setRenderingHint(
              java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img0, 0, 0, DHASH_W, DHASH_H, null)
          } finally g.dispose()
          out
        }
      var h = 0L
      var y = 0
      while (y < DHASH_H) {
        var x = 0
        while (x < DHASH_W - 1) {
          if ((img.getRGB(x + 1, y) & 0xFF) > (img.getRGB(x, y) & 0xFF))
            h |= 1L << (y * (DHASH_W - 1) + x)
          x += 1
        }
        y += 1
      }
      Some(h)
    }
  }

  val DHASH_GROUPS = 48
  val DHASH_CORPUS = 384

  /** The planted pattern word for fixture image (g, v): 56 pseudo-random
    * base bits from pure integer arithmetic (engine-reproducible in SQL —
    * the q94 closed-form discipline) plus variant-planted flips: v in
    * 0..3 leave the word alone (brightness variants), v=4/5 flip one bit,
    * v=6/7 flip two — Hamming-1 and Hamming-2 neighbors by construction. */
  private[graft] def dhashPatternWord(g: Long, v: Long): Long = {
    val f1 = (g * 7 + 11) % 56; val f2 = (f1 + 17) % 56
    val f3 = (g * 3 + 29) % 56; val f4 = (f3 + 23) % 56
    val flips: Set[Long] = v match {
      case 4 => Set(f1); case 5 => Set(f3)
      case 6 => Set(f1, f2); case 7 => Set(f3, f4); case _ => Set.empty
    }
    // base bit = parity of the SQUARED residue mod a large prime: the
    // linear residue alone alternates parity except at mod-wraps (odd
    // increment per b, even wrap correction), which correlates words
    // across g; squaring is nonlinear, decorrelating bits while staying
    // exactly reproducible in 63-bit integer SQL (h < 2^31 so h*h < 2^62)
    (0 until DHASH_BITS).foldLeft(0L) { (acc, b) =>
      val h = (g * 2654435761L + b * 1013904223L) % 1000000007L
      val bit = ((h * h % 1000000007L) % 2) ^ (if (flips(b.toLong)) 1L else 0L)
      acc | (bit << b)
    }
  }

  /** A 9x7 grayscale PNG whose dHash IS `word`: each row walks +-8 gray
    * steps from 128+shift, so the (x+1 > x) comparison reproduces bit
    * y*8+x exactly; a uniform `shift` changes every pixel byte of the PNG
    * but no comparison. Pixel range stays in [64, 204] for shift <= 12. */
  private[graft] def encodeDhashPng(word: Long, shift: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      DHASH_W, DHASH_H, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < DHASH_H) {
      var p = 128 + shift
      img.setRGB(0, y, (p << 16) | (p << 8) | p)
      var x = 0
      while (x < DHASH_W - 1) {
        p += (if (((word >> (y * (DHASH_W - 1) + x)) & 1L) == 1L) 8 else -8)
        img.setRGB(x + 1, y, (p << 16) | (p << 8) | p)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** 384-image fixture corpus: 48 base patterns x 8 variants — v0..v3 are
    * brightness-shifted re-encodes (byte-DIFFERENT payloads, identical
    * dHash: exact perceptual dups), v4..v7 are 1- and 2-bit
    * perturbations (near dups). Like q94's corpus it is built
    * executor-side from range(): the deterministic stand-in for an
    * image-bearing table, at any parallelism. */
  def syntheticImageCorpus(s: SparkSession): Dataset[MediaAsset] =
    syntheticImageCorpusOf(s, DHASH_GROUPS)

  /** The same planted-variant corpus at any group count (8 images per
    * group) — the registered q141 runs [[DHASH_GROUPS]]; the scale study
    * (tools.DhashScale) amplifies groups to measure the banded join's
    * growth, since the pattern-word arithmetic is valid for any g. */
  /** THE single per-id definition of the planted-variant fixture formula
    * — shared by the full-corpus and slice builders so an edit to one
    * cannot silently desynchronize the q142_probe_stored incoming slice
    * from its stored index (r16 ADVICE). */
  private def plantedAsset(i: Long, groups: Int): MediaAsset = {
    val g = i % groups
    val v = i / groups
    val shift = if (v <= 3) 4 * v.toInt else 0
    val p = encodeDhashPng(dhashPatternWord(g, v), shift)
    MediaAsset(i, p, MediaMeta("image", "png", p.length.toLong))
  }

  def syntheticImageCorpusOf(s: SparkSession, groups: Int): Dataset[MediaAsset] = {
    import s.implicits._
    s.range(0, groups * 8L).map(i => plantedAsset(i, groups))
  }

  /** A SLICE of the planted-variant corpus, synthesized without paying
    * for the rest: only ids with g < `gMax` and v in `vs` ever encode a
    * PNG (the filter runs on the id range BEFORE the map). This is the
    * fixed-onboarding-batch builder for the stored-index study
    * (`q142_probe_stored`): the x1 universe's incoming slice stays 96
    * images while the indexed corpus amplifies, so a probe pass measures
    * probing — not corpus synthesis. */
  def syntheticImageSlice(s: SparkSession, groups: Int, gMax: Int,
      vs: Seq[Int]): Dataset[MediaAsset] = {
    import s.implicits._
    val vset = vs.toSet
    s.range(0, groups * 8L)
      .filter(i => i % groups < gMax && vset.contains((i / groups).toInt))
      .map(i => plantedAsset(i, groups))
  }

  /** Batch probe of incoming (asset_id, dhash) rows against a STORED
    * [[imageBandIndex]] — the image member of the stored-index family
    * (`probeMinhashBands` / `probeLshIndex` for text / embeddings): the
    * incoming rows band-explode, candidates come from the (band, bv)
    * equi join against the stored bands PLUS a batch x batch self-join
    * (so two genuinely NEW images absent from the index still pair — no
    * containment precondition), and the exact hamming distance
    * is computed in-row from the dhash both sides carry. Output equals
    * [[imageNearDupPairsIncremental]] on the indexed corpus (pigeonhole
    * exactness is unchanged; MultimodalSpec pins the identity). At scale
    * the index is bucketed on (band, bv) so the corpus never shuffles. */
  def probeImageBandIndex(index: DataFrame, incoming: DataFrame,
      maxHamming: Int): DataFrame = {
    require(maxHamming <= DHASH_BANDS - 1,
      s"banded candidates exact only to hamming ${DHASH_BANDS - 1}")
    val inc = dhashBands(incoming)
    // sizing (the probeLshIndex convention, r16 ADVICE): one count per
    // side — the self side priced as its exact DHASH_BANDS fanout, no
    // second count job over the banded relation. sizedBuildSide then
    // broadcasts under the cap and pins SHUFFLE_HASH above it, so a
    // corpus-sized index can never flip to a sort-merge join that sorts
    // the corpus (the q64 broadcast-cliff lesson); StorageSpec pins the
    // bucketed index entering its join exchange-free THROUGH this probe.
    val nIdx = index.count()
    val nInc = DHASH_BANDS.toLong * incoming.count()
    // two candidate joins, unioned on the PAIR side (the probeMinhashBands
    // shape): the stored join keeps the index pristine — a (band, bv)-
    // bucketed index keeps its partitioning — while the batch x batch
    // self-join surfaces new-new pairs; distinct() absorbs the overlap
    def pairsAgainst(build: org.apache.spark.sql.DataFrame, nBuild: Long) =
      inc.alias("x")
        .join(Dedup.sizedBuildSide(build.alias("y"), nBuild,
          Dedup.NARROW_ROW_BYTES), Seq("band", "bv"))
        .filter(col("x.asset_id") =!= col("y.asset_id"))
        .select(least(col("x.asset_id"), col("y.asset_id")).as("ia"),
          greatest(col("x.asset_id"), col("y.asset_id")).as("ib"),
          bit_count(col("x.dhash").bitwiseXOR(col("y.dhash"))).as("hamming"))
    pairsAgainst(
        index.select(col("asset_id"), col("dhash"), col("band"), col("bv")),
        nIdx)
      .unionByName(pairsAgainst(inc, nInc))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Batched LIVE decode -> dHash over an image-asset Dataset — the same
    * mapPartitions batch shape as [[extractFeatures]]: pure executor-side
    * CPU, no shuffle, scales with input splits. Non-image or undecodable
    * payloads drop out (no pixels, no perceptual identity). */
  def imageDhashes(in: Dataset[MediaAsset]): DataFrame = {
    import in.sparkSession.implicits._
    in.mapPartitions { rows =>
      rows.grouped(BATCH_SIZE).flatMap { batch =>
        batch.iterator.flatMap { a =>
          if (a.meta.kind != "image") None
          else dhashImage(a.payload).map(h => (a.asset_id, h))
        }
      }
    }.toDF("asset_id", "dhash")
  }

  /** Hamming-banded near-dup candidate join over (asset_id, dhash) rows:
    * [[DHASH_BANDS]] bands x [[DHASH_BAND_BITS]] bits; by pigeonhole,
    * <= DHASH_BANDS-1 flipped bits cannot dirty every band, so candidate
    * generation is EXACT for hamming <= maxHamming <= 3 — the q37 Manku
    * chunk argument applied to the perceptual hash. Candidates come from
    * an equi join on (band, value), never a pair scan, so the plan is the
    * same one that survives a billion-image corpus. */
  def imageNearDupPairs(hashes: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming <= DHASH_BANDS - 1,
      s"banded candidates exact only to hamming ${DHASH_BANDS - 1}")
    val banded = dhashBands(hashes)
    banded.alias("x").join(banded.alias("y"), Seq("band", "bv"))
      .filter(col("x.asset_id") < col("y.asset_id"))
      .select(col("x.asset_id").as("ia"), col("y.asset_id").as("ib"),
        bit_count(col("x.dhash").bitwiseXOR(col("y.dhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") >= 1 && col("hamming") <= maxHamming)
  }

  /** One (asset_id, dhash, band, bv) row per hash band — as a stored
    * table this is the corpus band INDEX a production pipeline maintains
    * (bucketed on (band, bv) at scale so probe joins co-locate); the
    * streaming onboarding twin
    * ([[graft.streaming.StreamingOps.imageOnboardProbe]]) probes it
    * statically. */
  def imageBandIndex(hashes: DataFrame): DataFrame = dhashBands(hashes)

  /** One (asset_id, dhash, band, bv) row per hash band. */
  private def dhashBands(hashes: DataFrame): DataFrame =
    hashes.select(
      col("asset_id"), col("dhash"),
      explode(array((0 until DHASH_BANDS).map(k =>
        struct(lit(k).as("band"),
          shiftright(col("dhash"), k * DHASH_BAND_BITS)
            .bitwiseAND((1L << DHASH_BAND_BITS) - 1).as("bv"))): _*)).as("bk"))
      .select(col("asset_id"), col("dhash"), col("bk.band"), col("bk.bv"))

  /** Incremental onboarding twin of [[imageNearDupPairs]] (the q96/q98
    * discipline applied to the image modality): only the INCOMING rows'
    * bands probe the full-corpus band index, so existing-existing
    * candidates never generate and the candidate work is proportional to
    * the batch, not the corpus. Output is exact — the full hamming <=
    * maxHamming pair relation (0 included: exact dups are matches too)
    * restricted to pairs with an incoming member — because banding stays
    * pigeonhole-exact however the corpus is partitioned. */
  def imageNearDupPairsIncremental(hashes: DataFrame, maxHamming: Int,
      isNew: Column): DataFrame = {
    require(maxHamming <= DHASH_BANDS - 1,
      s"banded candidates exact only to hamming ${DHASH_BANDS - 1}")
    val all = dhashBands(hashes)
    val incoming = dhashBands(hashes.filter(isNew))
    incoming.alias("x").join(all.alias("y"), Seq("band", "bv"))
      .filter(col("x.asset_id") =!= col("y.asset_id"))
      .select(least(col("x.asset_id"), col("y.asset_id")).as("ia"),
        greatest(col("x.asset_id"), col("y.asset_id")).as("ib"),
        bit_count(col("x.dhash").bitwiseXOR(col("y.dhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ==== Perceptual audio dedup (q143) ======================================

  /** Audio fingerprint geometry: [[AFP_WINDOWS]] equal windows -> 56
    * adjacent-window energy comparisons — dHash's compare-only trick
    * applied in time, so the fingerprint is invariant to uniform GAIN
    * (the same clip at a different volume fingerprints identically) and
    * feeds the exact same 4x14-bit banded hamming join as the image
    * hash. */
  val AFP_WINDOWS = 57
  val AFP_BITS: Int = AFP_WINDOWS - 1 // 56 — same band geometry as dHash

  /** LIVE audio fingerprint: `javax.sound` decode to 16-bit PCM (any
    * JDK-readable container), split the first channel into
    * [[AFP_WINDOWS]] equal windows, take sum|sample| per window (an
    * exact integer — no float drift), and set bit w on window w+1
    * louder than window w. None when no reader handles the payload or
    * the clip is shorter than one sample per window. */
  def audioFingerprint(payload: Array[Byte]): Option[Long] = {
    import javax.sound.sampled.{AudioFormat, AudioSystem}
    try {
      val raw = AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      val f = raw.getFormat
      val pcmFmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
        f.getSampleRate, 16, f.getChannels, f.getChannels * 2,
        f.getSampleRate, false)
      val bytes = AudioSystem.getAudioInputStream(pcmFmt, raw).readAllBytes()
      val ch = f.getChannels
      val nSamples = bytes.length / 2 / ch
      if (nSamples < AFP_WINDOWS) None
      else {
        val k = nSamples / AFP_WINDOWS
        val sums = new Array[Long](AFP_WINDOWS)
        var w = 0
        while (w < AFP_WINDOWS) {
          var j = 0; var acc = 0L
          while (j < k) {
            val si = (w * k + j) * ch * 2 // first channel of the frame
            val s = ((bytes(si) & 0xFF) | (bytes(si + 1) << 8)).toShort
            acc += math.abs(s.toLong)
            j += 1
          }
          sums(w) = acc; w += 1
        }
        var h = 0L; var b = 0
        while (b < AFP_BITS) {
          if (sums(b + 1) > sums(b)) h |= 1L << b
          b += 1
        }
        Some(h)
      }
    } catch {
      case _: javax.sound.sampled.UnsupportedAudioFileException => None
      case _: java.io.IOException => None
      case _: IllegalArgumentException => None
    }
  }

  /** Audio fixture pattern word — the q141 closed-form family with its
    * own additive seed and flip schedule, so the two modalities' planted
    * corpora (and oracle outputs) differ. */
  private[graft] def afpPatternWord(g: Long, v: Long): Long = {
    val f1 = (g * 5 + 19) % 56; val f2 = (f1 + 13) % 56
    val f3 = (g * 9 + 37) % 56; val f4 = (f3 + 31) % 56
    val flips: Set[Long] = v match {
      case 4 => Set(f1); case 5 => Set(f3)
      case 6 => Set(f1, f2); case 7 => Set(f3, f4); case _ => Set.empty
    }
    (0 until AFP_BITS).foldLeft(0L) { (acc, b) =>
      val h = (g * 2654435761L + b * 1013904223L + 524287L) % 1000000007L
      val bit = ((h * h % 1000000007L) % 2) ^ (if (flips(b.toLong)) 1L else 0L)
      acc | (bit << b)
    }
  }

  /** A mono 16-bit WAV whose [[audioFingerprint]] IS `word`: 57 windows
    * of 64 samples, each a +-a square wave with the amplitude walking
    * +-128 from 8192 as the word's bits dictate (range [1024, 15360]);
    * `gainNum`/4 scales every sample — amplitudes are multiples of 4, so
    * scaled samples stay exact integers up to gain 7/4 (max 26880 <
    * 32767). Byte-DIFFERENT payloads, identical fingerprint: the
    * volume-normalization invariance the operator exists for. */
  private[graft] def encodeFpWav(word: Long, gainNum: Int): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val k = 64
    val amps = new Array[Int](AFP_WINDOWS)
    amps(0) = 8192
    var w = 1
    while (w < AFP_WINDOWS) {
      amps(w) = amps(w - 1) + (if (((word >> (w - 1)) & 1L) == 1L) 128 else -128)
      w += 1
    }
    val data = new Array[Byte](AFP_WINDOWS * k * 2)
    var i = 0
    while (i < AFP_WINDOWS * k) {
      val a = amps(i / k) * gainNum / 4
      val s = if (i % 2 == 0) a else -a
      data(2 * i) = (s & 0xFF).toByte
      data(2 * i + 1) = ((s >> 8) & 0xFF).toByte
      i += 1
    }
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, (AFP_WINDOWS * k).toLong)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** 384-clip fixture corpus: 48 base patterns x 8 variants — v0..v3 are
    * gain-scaled re-encodes (byte-DIFFERENT, fingerprint-identical),
    * v4..v7 are 1- and 2-bit perturbations. */
  def syntheticAudioCorpus(s: SparkSession): Dataset[MediaAsset] = {
    import s.implicits._
    s.range(0, DHASH_CORPUS).map { i =>
      val g = i % DHASH_GROUPS
      val v = i / DHASH_GROUPS
      val gain = if (v <= 3) 4 + v.toInt else 4
      val p = encodeFpWav(afpPatternWord(g, v), gain)
      MediaAsset(i, p, MediaMeta("audio", "wav", p.length.toLong))
    }
  }

  /** Batched LIVE decode -> fingerprint over an audio-asset Dataset —
    * same batch shape as [[imageDhashes]]; emits the hash under the
    * `dhash` column so the banded-join helpers apply unchanged (both are
    * 56-bit perceptual hashes with identical band geometry). */
  def audioFingerprints(in: Dataset[MediaAsset]): DataFrame = {
    import in.sparkSession.implicits._
    in.mapPartitions { rows =>
      rows.grouped(BATCH_SIZE).flatMap { batch =>
        batch.iterator.flatMap { a =>
          if (a.meta.kind != "audio") None
          else audioFingerprint(a.payload).map(h => (a.asset_id, h))
        }
      }
    }.toDF("asset_id", "dhash")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q41_multimodal_features",
      (s, d) => {
        import s.implicits._
        extractFeatures(assets(s, d)).toDF()
          .select(col("asset_id"), col("kind"), col("n_bytes"),
            col("width"), col("height"),
            round(aggregate(col("features"),
              lit(0.0), (acc, x) => acc + x.cast("double")), 6).as("feat_l1"))
          .orderBy(col("asset_id"))
      },
      // FULL oracle: the stub's dimension hash is sha256 over the
      // payload's uppercase hex (DuckDB's sha256 takes VARCHAR), a byte's
      // histogram bin is its high nibble = the first hex char of its
      // pair, and the float32 histogram arithmetic reproduces exactly
      // (REAL/REAL division stays float32 in DuckDB; the ascending-bin
      // double sum matches the engine's fold because absent bins
      // contribute an exact +0.0). Only the real-codec seam stays outside
      // the oracle — MultimodalSpec covers it, and q94 puts the live
      // decoders under their own closed-form oracle.
      Some {
        val l1Sum = (1 to FEATURE_DIM).map(i => s"coalesce(lv[$i], 0.0)")
          .mkString(" + ")
        s"""
        WITH docs AS (
          SELECT doc_id AS asset_id, hex(encode(text)) AS hx,
                 octet_length(encode(text))::BIGINT AS n_bytes
          FROM documents),
        dims AS (
          SELECT asset_id, ${Similarity.sqlHex8Of("hx")} AS h FROM docs),
        pairs AS (
          SELECT asset_id,
                 unnest(regexp_extract_all(hx, '(.).', 1)) AS hc
          FROM docs),
        hist AS (
          SELECT asset_id, strpos('0123456789ABCDEF', hc) - 1 AS bin,
                 count(*) AS cnt
          FROM pairs GROUP BY 1, 2),
        feats AS (
          SELECT h.asset_id, h.bin,
                 ((h.cnt::FLOAT) / (greatest(d.n_bytes, 1)::FLOAT))::DOUBLE AS v
          FROM hist h JOIN docs d USING (asset_id)),
        l1 AS (
          SELECT asset_id, list(v ORDER BY bin) AS lv
          FROM feats GROUP BY asset_id)
        SELECT d.asset_id, 'text' AS kind, d.n_bytes,
               (16 + (m.h % 1024))::INT AS width,
               (16 + ((m.h // 1024) % 1024))::INT AS height,
               round($l1Sum, 6) AS feat_l1
        FROM docs d
        JOIN dims m USING (asset_id)
        LEFT JOIN l1 USING (asset_id)
        ORDER BY d.asset_id"""
      },
      "binary-column batched decode + feature extraction (engine-reproducible stubbed codec)"),

    QueryDef(
      "q66_multimodal_meta",
      (s, d) => {
        import s.implicits._
        // the SQL-expressible face of the multimodal plumbing: typed
        // payload+metadata Dataset end-to-end, plus the frame-sampling stub
        // (codec-dependent features stay in q41's rows-only check). The
        // 4096-byte stride divides exactly in binary, so ceil() agrees
        // bit-for-bit across engines.
        assets(s, d)
          .map(a => (a.meta.formatHint, a.meta.nBytes,
            sampleFrameOffsets(a.meta.nBytes).size.toLong))
          .toDF("source", "n_bytes", "n_frames")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"),
            sum(col("n_bytes")).as("total_bytes"),
            max(col("n_bytes")).as("max_bytes"),
            sum(col("n_frames")).as("total_frames"))
          .orderBy(col("source"))
      },
      Some("""
        SELECT source,
               count(*) AS n,
               cast(sum(octet_length(encode(text))) AS bigint) AS total_bytes,
               max(octet_length(encode(text))) AS max_bytes,
               cast(sum(cast(ceil(octet_length(encode(text)) / 4096.0) AS bigint)) AS bigint) AS total_frames
        FROM documents
        GROUP BY source
        ORDER BY source"""),
      "typed multimodal metadata + frame-sampling stub as an oracle-checkable aggregate"),

    QueryDef(
      "q94_multimodal_decode",
      (s, _) => {
        // the LIVE decoders under the driver gate: [[syntheticAssets]]
        // payloads go through the identical batched mapPartitions path as
        // q41, but every output fact is closed-form — solid-gray PNG i
        // decodes to (8+i, 4+i) with all luminance mass in bin i; silent
        // WAV i decodes to (8000+1000i Hz, 1 channel) with all amplitude
        // mass in bin 8; real BMFF header i probes to (320+16i, 180+8i)
        // from tkhd with exactly MP4_PAD/MP4_TOTAL byte mass in the pad
        // bin 15 — so the oracle is a pure range() expression and any
        // decodeImage/decodeAudio/probeMp4 regression hash-mismatches.
        extractFeatures(syntheticAssets(s)).toDF()
          .select(col("asset_id"), col("kind"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            (expr("array_position(features, array_max(features))") - 1L)
              .as("top_bin"),
            round(expr("array_max(features)").cast("double"), 6).as("top_val"))
          .orderBy(col("asset_id"))
      },
      Some(s"""
        SELECT cast(i AS bigint) AS asset_id, 'image' AS kind,
               cast(8 + i AS bigint) AS width, cast(4 + i AS bigint) AS height,
               cast(i AS bigint) AS top_bin, cast(1.0 AS double) AS top_val
        FROM range(16) t(i)
        UNION ALL
        SELECT cast(16 + i AS bigint), 'audio',
               cast(8000 + 1000 * i AS bigint), cast(1 AS bigint),
               cast(8 AS bigint), cast(1.0 AS double)
        FROM range(8) t(i)
        UNION ALL
        SELECT cast(24 + i AS bigint), 'video',
               cast(320 + 16 * i AS bigint), cast(180 + 8 * i AS bigint),
               cast(15 AS bigint),
               round($MP4_PAD / $MP4_TOTAL.0, 6)
        FROM range(8) t(i)
        ORDER BY asset_id"""),
      "live JDK image+audio decode + BMFF header probe over a deterministic synthesized fixture, closed-form oracle"),

    QueryDef(
      "q141_image_dedup",
      (s, _) => {
        // Perceptual image dedup (the LAION/DataComp image-corpus curation
        // step): LIVE JDK decode -> dHash -> exact-dup groups by hash
        // equality + near-dup neighbor counts via the banded hamming join.
        // v0..v3 of each fixture group are byte-DIFFERENT payloads
        // (brightness-shifted re-encodes) that hash identically — the
        // duplicate class q34-style byte fingerprinting cannot see. The
        // exact-group side is one partial-aggregated groupBy on the
        // 64-bit hash; the near side is the q37-shaped band bucket join —
        // both linear in the corpus.
        val hashes = graft.Caches.lease(imageDhashes(syntheticImageCorpus(s)))
        val ex = hashes.groupBy(col("dhash")).agg(count(lit(1)).as("cnt"))
        val pairs = imageNearDupPairs(hashes, maxHamming = 2)
        // one endpoint stream via explode — a union of two projections
        // would execute the uncached banded-join subtree twice
        val near = pairs
          .select(explode(array(col("ia"), col("ib"))).as("asset_id"))
          .groupBy(col("asset_id")).agg(count(lit(1)).as("n_near"))
        hashes.join(ex, Seq("dhash"))
          .join(near, Seq("asset_id"), "left")
          .select(col("asset_id"), col("dhash"),
            (col("cnt") - 1L).as("n_exact"),
            coalesce(col("n_near"), lit(0L)).as("n_near"))
      },
      // FULL oracle: the fixture's decoded pixels are a closed form of
      // (g, v), so its dHash is the planted pattern word itself — DuckDB
      // rebuilds every word with integer arithmetic (never touching a
      // pixel) and brute-forces the 384^2 hamming relation the engine
      // answers with the banded join (exact for hamming<=3 by
      // pigeonhole, so the two methods agree by theorem, and any
      // decode/hash/banding regression hash-mismatches).
      Some("""
        WITH imgs AS (
          SELECT i::BIGINT AS asset_id, (i % 48)::BIGINT AS g, (i // 48)::BIGINT AS v
          FROM range(384) t(i)),
        flips AS (
          SELECT asset_id, g, v,
                 (g*7+11)%56 AS f1, ((g*7+11)%56+17)%56 AS f2,
                 (g*3+29)%56 AS f3, ((g*3+29)%56+23)%56 AS f4
          FROM imgs),
        hbits AS (
          SELECT asset_id, b,
                 CASE WHEN flipped THEN 1 - (lin*lin % 1000000007) % 2
                      ELSE (lin*lin % 1000000007) % 2 END AS bit
          FROM (
            SELECT f.asset_id, b.b,
                   (f.g*2654435761 + b.b*1013904223) % 1000000007 AS lin,
                   (f.v=4 AND b.b=f.f1) OR (f.v=5 AND b.b=f.f3)
                    OR (f.v=6 AND b.b IN (f.f1,f.f2))
                    OR (f.v=7 AND b.b IN (f.f3,f.f4)) AS flipped
            FROM flips f, range(56) b(b)) t),
        h AS (
          SELECT asset_id, sum(bit * (1::BIGINT << b))::BIGINT AS dhash
          FROM hbits GROUP BY 1),
        ex AS (
          SELECT a.asset_id, count(*) AS n_exact
          FROM h a JOIN h b ON a.dhash = b.dhash AND a.asset_id <> b.asset_id
          GROUP BY 1),
        nr AS (
          SELECT a.asset_id, count(*) AS n_near
          FROM h a JOIN h b ON a.asset_id <> b.asset_id
           AND bit_count(xor(a.dhash, b.dhash)) BETWEEN 1 AND 2
          GROUP BY 1)
        SELECT h.asset_id, h.dhash,
               coalesce(ex.n_exact, 0::BIGINT) AS n_exact,
               coalesce(nr.n_near, 0::BIGINT) AS n_near
        FROM h LEFT JOIN ex USING (asset_id) LEFT JOIN nr USING (asset_id)
        ORDER BY asset_id"""),
      "perceptual image dedup: live decode -> dHash(56) -> exact groups + banded hamming<=2 neighbors (exact by pigeonhole)"),

    QueryDef(
      "q142_incremental_image_dedup",
      (s, _) => {
        // Daily image onboarding: the deterministic 25% "incoming batch"
        // — variants v=3 (a brightness re-encode) and v=6 (a 2-bit
        // perturbation), i.e. asset_id div 48 in (3, 6) — matched against
        // the full corpus. The batch cuts WITHIN every duplicate group
        // (a mod-id split would move whole groups and plant no
        // incoming-vs-existing matches at all). Incoming bands probe the
        // corpus band index — existing-existing candidates never
        // generate (the q96/q98 incremental discipline), yet the output
        // is the EXACT hamming<=2 match relation restricted to
        // incoming-member pairs, exact dups included.
        val hashes = graft.Caches.lease(imageDhashes(syntheticImageCorpus(s)))
        imageNearDupPairsIncremental(hashes, maxHamming = 2,
          expr("asset_id div 48").isin(3, 6))
      },
      // FULL oracle: q141's closed-form pattern words, brute-forced over
      // the pairs with an incoming member — the banded incremental join
      // must reproduce it exactly (pigeonhole) or hash-mismatch.
      Some("""
        WITH imgs AS (
          SELECT i::BIGINT AS asset_id, (i % 48)::BIGINT AS g, (i // 48)::BIGINT AS v
          FROM range(384) t(i)),
        flips AS (
          SELECT asset_id, g, v,
                 (g*7+11)%56 AS f1, ((g*7+11)%56+17)%56 AS f2,
                 (g*3+29)%56 AS f3, ((g*3+29)%56+23)%56 AS f4
          FROM imgs),
        hbits AS (
          SELECT asset_id, b,
                 CASE WHEN flipped THEN 1 - (lin*lin % 1000000007) % 2
                      ELSE (lin*lin % 1000000007) % 2 END AS bit
          FROM (
            SELECT f.asset_id, b.b,
                   (f.g*2654435761 + b.b*1013904223) % 1000000007 AS lin,
                   (f.v=4 AND b.b=f.f1) OR (f.v=5 AND b.b=f.f3)
                    OR (f.v=6 AND b.b IN (f.f1,f.f2))
                    OR (f.v=7 AND b.b IN (f.f3,f.f4)) AS flipped
            FROM flips f, range(56) b(b)) t),
        h AS (
          SELECT asset_id, sum(bit * (1::BIGINT << b))::BIGINT AS dhash
          FROM hbits GROUP BY 1)
        SELECT a.asset_id AS ia, b.asset_id AS ib,
               bit_count(xor(a.dhash, b.dhash))::INT AS hamming
        FROM h a JOIN h b
          ON a.asset_id < b.asset_id
         AND (a.asset_id // 48 IN (3, 6) OR b.asset_id // 48 IN (3, 6))
         AND bit_count(xor(a.dhash, b.dhash)) <= 2
        ORDER BY ia, ib"""),
      "incremental perceptual image onboarding: incoming bands probe the full-corpus band index; existing-existing candidates never generate"),

    QueryDef(
      "q143_audio_dedup",
      (s, _) => {
        // Perceptual AUDIO dedup: live javax.sound decode -> 56-bit
        // gain-invariant fingerprint (adjacent-window energy
        // comparisons) -> the same exact-group + banded-hamming shape as
        // q141. v0..v3 of each fixture group are the same clip at four
        // volumes — byte-different payloads, identical fingerprint: the
        // duplicate class a byte or spectral-exact hash misses.
        val hashes = graft.Caches.lease(audioFingerprints(syntheticAudioCorpus(s)))
        val ex = hashes.groupBy(col("dhash")).agg(count(lit(1)).as("cnt"))
        val pairs = imageNearDupPairs(hashes, maxHamming = 2)
        // one endpoint stream via explode — see q141's near block
        val near = pairs
          .select(explode(array(col("ia"), col("ib"))).as("asset_id"))
          .groupBy(col("asset_id")).agg(count(lit(1)).as("n_near"))
        hashes.join(ex, Seq("dhash"))
          .join(near, Seq("asset_id"), "left")
          .select(col("asset_id"), col("dhash").as("fp"),
            (col("cnt") - 1L).as("n_exact"),
            coalesce(col("n_near"), lit(0L)).as("n_near"))
      },
      // FULL oracle: q141's closed-form template under the audio seed
      // (+524287) and flip schedule — the decoded PCM energies are a
      // closed form of (g, v), so the fingerprint is the planted word and
      // DuckDB brute-forces the hamming relation the engine answers with
      // the banded join.
      Some("""
        WITH imgs AS (
          SELECT i::BIGINT AS asset_id, (i % 48)::BIGINT AS g, (i // 48)::BIGINT AS v
          FROM range(384) t(i)),
        flips AS (
          SELECT asset_id, g, v,
                 (g*5+19)%56 AS f1, ((g*5+19)%56+13)%56 AS f2,
                 (g*9+37)%56 AS f3, ((g*9+37)%56+31)%56 AS f4
          FROM imgs),
        hbits AS (
          SELECT asset_id, b,
                 CASE WHEN flipped THEN 1 - (lin*lin % 1000000007) % 2
                      ELSE (lin*lin % 1000000007) % 2 END AS bit
          FROM (
            SELECT f.asset_id, b.b,
                   (f.g*2654435761 + b.b*1013904223 + 524287) % 1000000007 AS lin,
                   (f.v=4 AND b.b=f.f1) OR (f.v=5 AND b.b=f.f3)
                    OR (f.v=6 AND b.b IN (f.f1,f.f2))
                    OR (f.v=7 AND b.b IN (f.f3,f.f4)) AS flipped
            FROM flips f, range(56) b(b)) t),
        h AS (
          SELECT asset_id, sum(bit * (1::BIGINT << b))::BIGINT AS fp
          FROM hbits GROUP BY 1),
        ex AS (
          SELECT a.asset_id, count(*) AS n_exact
          FROM h a JOIN h b ON a.fp = b.fp AND a.asset_id <> b.asset_id
          GROUP BY 1),
        nr AS (
          SELECT a.asset_id, count(*) AS n_near
          FROM h a JOIN h b ON a.asset_id <> b.asset_id
           AND bit_count(xor(a.fp, b.fp)) BETWEEN 1 AND 2
          GROUP BY 1)
        SELECT h.asset_id, h.fp,
               coalesce(ex.n_exact, 0::BIGINT) AS n_exact,
               coalesce(nr.n_near, 0::BIGINT) AS n_near
        FROM h LEFT JOIN ex USING (asset_id) LEFT JOIN nr USING (asset_id)
        ORDER BY asset_id"""),
      "perceptual audio dedup: live decode -> gain-invariant 56-bit energy fingerprint -> exact groups + banded hamming<=2 neighbors")
  )
}
