package graft.extract

import Endian._
/** Container metadata for audio/video payloads — the reference reads these
  * via MediaInfo (`/root/reference/ingestors/media/audio.py:12-67`,
  * `media/video.py:12-55`); the MP4/QuickTime box tree, ID3v2 tags and
  * RIFF/WAVE chunks are public formats parsed directly.
  *
  * Property mapping mirrors the reference's track loop: title (handler
  * name / ©nam / TIT2), generator (©too / TSSE / TENC), authoredAt
  * (mvhd times / TDRC), duration (ms), samplingRate (Hz). */
object MediaMeta {

  // per-timestamp fixup, precompiled (String.replaceAll recompiles per call)
  private val OffsetNoColon =
    java.util.regex.Pattern.compile("([+-]\\d{2})(\\d{2})$")

  private def clean(s: String): Option[String] = {
    val t = s.takeWhile(_ != '\u0000').trim
    if (t.nonEmpty && t.forall(c => c >= ' ' || c == '\t')) Some(t) else None
  }

  /** Timestamp text (possibly with a zone offset) → UTC-naive ISO, the
    * reference's parse_timestamp normalization
    * (`support/timestamp.py`): "2018-06-20T14:09:28+0200" → "…T12:09:28". */
  private[extract] def toUtcIso(s: String): Option[String] = {
    val t = s.trim
    if (t.isEmpty) return None
    try Some(java.time.OffsetDateTime.parse(t)
      .withOffsetSameInstant(java.time.ZoneOffset.UTC).toLocalDateTime.toString)
    catch {
      case _: Exception =>
        // "+0200" without colon, or naive timestamps
        val fixed = OffsetNoColon.matcher(t).replaceAll("$1:$2")
        try Some(java.time.OffsetDateTime.parse(fixed)
          .withOffsetSameInstant(java.time.ZoneOffset.UTC).toLocalDateTime.toString)
        catch {
          case _: Exception =>
            try Some(java.time.LocalDateTime.parse(t).toString)
            catch { case _: Exception => clean(t) }
        }
    }
  }

  /** Seconds since 1904-01-01 (QuickTime epoch) → ISO local datetime. */
  private def qtTimeIso(secs: Long): Option[String] = {
    if (secs <= 0) return None
    val unix = secs - 2082844800L
    if (unix < 0 || unix > 4102444800L) return None
    Some(java.time.LocalDateTime.ofEpochSecond(unix, 0,
      java.time.ZoneOffset.UTC).toString)
  }

  final case class Info(titles: Vector[String] = Vector.empty,
                        generators: Vector[String] = Vector.empty,
                        authoredAt: Vector[String] = Vector.empty,
                        durationMs: Option[Long] = None,
                        samplingRate: Option[Int] = None) {
    def props: Map[String, Seq[String]] = Seq(
      "title" -> titles.distinct,
      "generator" -> generators.distinct,
      "authoredAt" -> authoredAt.distinct,
      "duration" -> durationMs.map(_.toString).toVector,
      "samplingRate" -> samplingRate.map(_.toString).toVector
    ).filter(_._2.nonEmpty).toMap
  }

  def read(bytes: Array[Byte]): Info = {
    if (bytes.length >= 12 &&
        new String(bytes, 4, 4, "ISO-8859-1") == "ftyp") mp4(bytes)
    else if (bytes.length >= 3 && bytes(0) == 'I' && bytes(1) == 'D' &&
             bytes(2) == '3') mp3(bytes)
    else if (bytes.length >= 12 &&
             new String(bytes, 0, 4, "ISO-8859-1") == "RIFF" &&
             new String(bytes, 8, 4, "ISO-8859-1") == "WAVE") wav(bytes)
    else if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xff &&
             (bytes(1) & 0xe0) == 0xe0) mp3(bytes) // raw MPEG frames, no ID3
    else Info()
  }

  // ---- image dimensions ------------------------------------------------

  /** (width, height) from PNG IHDR, JPEG SOF, GIF screen descriptor or
    * WebP VP8/VP8L/VP8X headers — the typed metadata a multimodal column
    * carries without decoding pixels. */
  def imageDims(b: Array[Byte]): Option[(Int, Int)] = {
    if (b.length < 26) return None
    // PNG: 8-byte signature, IHDR at 16
    if ((b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G')
      return Some(((beU32(b, 16) & 0x7fffffff).toInt, (beU32(b, 20) & 0x7fffffff).toInt))
    // GIF: logical screen descriptor at 6 (little-endian)
    if (b(0) == 'G' && b(1) == 'I' && b(2) == 'F')
      return Some(((b(6) & 0xff) | ((b(7) & 0xff) << 8),
        (b(8) & 0xff) | ((b(9) & 0xff) << 8)))
    // JPEG: scan markers for SOF0-15 (except DHT/DAC/RST)
    if ((b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) {
      var p = 2
      while (p + 9 < b.length) {
        if ((b(p) & 0xff) != 0xff) return None
        val marker = b(p + 1) & 0xff
        val len = be16(b, p + 2)
        if (marker >= 0xc0 && marker <= 0xcf &&
            marker != 0xc4 && marker != 0xc8 && marker != 0xcc)
          return Some((be16(b, p + 7), be16(b, p + 5)))
        if (len < 2) return None
        p += 2 + len
      }
      return None
    }
    // WebP: RIFF....WEBP + VP8 variants (little-endian fields)
    if (b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'E' && b(10) == 'B' && b(11) == 'P') {
      val tag = new String(b, 12, 4, "ISO-8859-1")
      tag match {
        case "VP8 " if b.length >= 30 =>
          // key frame: 3-byte frame tag, 3-byte start code, 14-bit dims
          return Some((((b(26) & 0xff) | ((b(27) & 0x3f) << 8)),
            ((b(28) & 0xff) | ((b(29) & 0x3f) << 8))))
        case "VP8L" if b.length >= 25 =>
          val bits = (b(21) & 0xffL) | ((b(22) & 0xffL) << 8) |
            ((b(23) & 0xffL) << 16) | ((b(24) & 0xffL) << 24)
          return Some((((bits & 0x3fff) + 1).toInt,
            (((bits >> 14) & 0x3fff) + 1).toInt))
        case "VP8X" if b.length >= 30 =>
          val w = ((b(24) & 0xff) | ((b(25) & 0xff) << 8) | ((b(26) & 0xff) << 16)) + 1
          val h = ((b(27) & 0xff) | ((b(28) & 0xff) << 8) | ((b(29) & 0xff) << 16)) + 1
          return Some((w, h))
        case _ => return None
      }
    }
    None
  }

  // ---- MP4 / QuickTime ---------------------------------------------------

  private val containers = Set("moov", "trak", "mdia", "minf", "stbl",
    "udta", "edts")

  private def mp4(b: Array[Byte]): Info = {
    var titles = Vector.empty[String]
    var gens = Vector.empty[String]
    var times = Vector.empty[String]
    var durMs: Option[Long] = None
    var rate: Option[Int] = None
    var curHandlerIsSound = false

    def walk(off: Long, end: Long, depth: Int): Unit = {
      if (depth > 16) return
      var p = off
      while (p + 8 <= end) {
        var size = beU32(b, p.toInt)
        val typ = new String(b, p.toInt + 4, 4, "ISO-8859-1")
        var hdr = 8L
        if (size == 1 && p + 16 <= end) { size = be64(b, p.toInt + 8); hdr = 16 }
        else if (size == 0) size = end - p
        if (size < hdr || p + size > end) return
        val body = (p + hdr).toInt
        typ match {
          case t if containers.contains(t) => walk(p + hdr, p + size, depth + 1)
          case "meta" => // full box: 4 bytes version/flags before children
            walk(p + hdr + 4, p + size, depth + 1)
          case "ilst" => walkIlst(body, (p + size).toInt)
          case "mvhd" =>
            val v = b(body) & 0xff
            if (v == 1 && size >= 32 + 28) {
              times ++= qtTimeIso(be64(b, body + 4))
              times ++= qtTimeIso(be64(b, body + 12))
              val ts = beU32(b, body + 20)
              val du = be64(b, body + 24)
              if (ts > 0) durMs = Some(du * 1000 / ts)
            } else if (size >= 8 + 20) {
              times ++= qtTimeIso(beU32(b, body + 4))
              times ++= qtTimeIso(beU32(b, body + 8))
              val ts = beU32(b, body + 12)
              val du = beU32(b, body + 16)
              if (ts > 0) durMs = Some(du * 1000 / ts)
            }
          case "hdlr" =>
            if (size >= 8 + 24) {
              val subtype = new String(b, body + 8, 4, "ISO-8859-1")
              curHandlerIsSound = subtype == "soun"
              // name: ISO C-string at +24, or QT Pascal string
              val nameOff = body + 24
              val max = (p + size).toInt - nameOff
              if (max > 0) {
                val isPascal = (b(nameOff) & 0xff) == max - 1
                val raw =
                  if (isPascal) new String(b, nameOff + 1, max - 1, "UTF-8")
                  else new String(b, nameOff, max, "UTF-8")
                clean(raw).foreach(t => titles :+= t)
              }
            }
          case "mdhd" =>
            val v = b(body) & 0xff
            val ts =
              if (v == 1 && size >= 8 + 28) beU32(b, body + 20)
              else if (size >= 8 + 16) beU32(b, body + 12)
              else 0L
            if (curHandlerIsSound && ts > 0 && ts <= 192000)
              rate = rate.orElse(Some(ts.toInt))
          case "date" => // udta recorded-date text atom (QuickTime)
            val len = (size - hdr).toInt
            if (len > 0 && len < 64)
              toUtcIso(new String(b, body, len, "UTF-8")).foreach(t => times :+= t)
          case _ => ()
        }
        p += size
      }
    }

    def walkIlst(off: Int, end: Int): Unit = {
      var p = off
      while (p + 8 <= end) {
        val size = beU32(b, p)
        if (size < 8 || p + size > end) return
        val key = new String(b, p + 4, 4, "ISO-8859-1")
        // child 'data' box: 8 hdr + 4 type + 4 locale, then the value
        if (size >= 24 && new String(b, p + 12, 4, "ISO-8859-1") == "data") {
          val v = new String(b, p + 24, (size - 24).toInt, "UTF-8")
          key match {
            case "©nam" => clean(v).foreach(t => titles :+= t)
            case "©too" | "©enc" => clean(v).foreach(g => gens :+= g)
            case "©day" => clean(v).foreach(d => times :+= d)
            case _ => ()
          }
        }
        p += size.toInt
      }
    }

    // mdhd of a sound track appears after its hdlr within the same trak —
    // but hdlr sits in mdia AFTER mdhd in most files; do two passes: first
    // collect handler positions, then rates. Simpler: one pass flags sound
    // handlers for SUBSEQUENT mdhd; a second pass catches mdhd-before-hdlr.
    walk(0, b.length.toLong, 0)
    if (rate.isEmpty) {
      // second pass: accept any mdhd timescale in the audio range
      var p = 0L
      def walk2(off: Long, end: Long, depth: Int): Unit = {
        if (depth > 16) return
        var q = off
        while (q + 8 <= end) {
          var size = beU32(b, q.toInt)
          val typ = new String(b, q.toInt + 4, 4, "ISO-8859-1")
          var hdr = 8L
          if (size == 1 && q + 16 <= end) { size = be64(b, q.toInt + 8); hdr = 16 }
          else if (size == 0) size = end - q
          if (size < hdr || q + size > end) return
          if (containers.contains(typ)) walk2(q + hdr, q + size, depth + 1)
          else if (typ == "mdhd") {
            val body = (q + hdr).toInt
            val v = b(body) & 0xff
            val ts =
              if (v == 1 && size >= 8 + 28) beU32(b, body + 20)
              else if (size >= 8 + 16) beU32(b, body + 12)
              else 0L
            if (ts >= 8000 && ts <= 192000 && rate.isEmpty) rate = Some(ts.toInt)
          }
          q += size
        }
      }
      walk2(p, b.length.toLong, 0)
    }
    Info(titles, gens, times.sorted, durMs, rate)
  }

  // ---- MP3 / ID3v2 ---------------------------------------------------------

  private def syncsafe(b: Array[Byte], o: Int): Int =
    ((b(o) & 0x7f) << 21) | ((b(o + 1) & 0x7f) << 14) |
      ((b(o + 2) & 0x7f) << 7) | (b(o + 3) & 0x7f)

  private def id3Text(b: Array[Byte], off: Int, len: Int): Option[String] = {
    if (len < 2) return None
    val enc = b(off) & 0xff
    val raw = enc match {
      case 0 => new String(b, off + 1, len - 1, "ISO-8859-1")
      case 1 => new String(b, off + 1, len - 1, "UTF-16")
      case 2 => new String(b, off + 1, len - 1, "UTF-16BE")
      case _ => new String(b, off + 1, len - 1, "UTF-8")
    }
    clean(raw)
  }

  private val mp3Bitrates = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128,
    160, 192, 224, 256, 320) // MPEG1 Layer III kbps
  private val mp3Rates = Array(44100, 48000, 32000)

  private def mp3(b: Array[Byte]): Info = {
    var titles = Vector.empty[String]
    var gens = Vector.empty[String]
    var times = Vector.empty[String]
    var durMs: Option[Long] = None
    var audioStart = 0

    if (b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
      val v = b(3) & 0xff
      val tagSize = syncsafe(b, 6)
      audioStart = 10 + tagSize
      var p = 10
      val end = math.min(10 + tagSize, b.length)
      while (p + 10 <= end) {
        val id = new String(b, p, 4, "ISO-8859-1")
        if (!id.forall(c => c.isLetterOrDigit)) p = end // padding reached
        else {
          val fsize = if (v >= 4) syncsafe(b, p + 4) else beU32(b, p + 4).toInt
          if (fsize <= 0 || p + 10 + fsize > end) p = end
          else {
            id match {
              case "TIT2" => id3Text(b, p + 10, fsize).foreach(t => titles :+= t)
              case "TSSE" | "TENC" => id3Text(b, p + 10, fsize).foreach(g => gens :+= g)
              case "TDRC" | "TYER" => id3Text(b, p + 10, fsize).foreach(d => times :+= d)
              case "TLEN" => id3Text(b, p + 10, fsize)
                .flatMap(_.toLongOption).foreach(ms => durMs = Some(ms))
              case _ => ()
            }
            p += 10 + fsize
          }
        }
      }
    }
    // first MPEG frame header → sampling rate (+ CBR duration estimate)
    var rate: Option[Int] = None
    var q = audioStart
    var found = false
    while (!found && q + 4 <= b.length && q < audioStart + 65536) {
      if ((b(q) & 0xff) == 0xff && (b(q + 1) & 0xe0) == 0xe0) {
        val versionBits = (b(q + 1) >> 3) & 3
        val layerBits = (b(q + 1) >> 1) & 3
        val brIx = (b(q + 2) >> 4) & 0xf
        val srIx = (b(q + 2) >> 2) & 3
        if (versionBits == 3 && layerBits == 1 && srIx < 3 && brIx > 0 && brIx < 15) {
          rate = Some(mp3Rates(srIx))
          if (durMs.isEmpty) {
            val kbps = mp3Bitrates(brIx)
            if (kbps > 0)
              durMs = Some((b.length - audioStart).toLong * 8 / kbps)
          }
          found = true
        }
      }
      q += 1
    }
    Info(titles, gens, times, durMs, rate)
  }

  // ---- WAV -----------------------------------------------------------------

  private def wav(b: Array[Byte]): Info = {
    var rate: Option[Int] = None
    var byteRate = 0L
    var durMs: Option[Long] = None
    var p = 12
    while (p + 8 <= b.length) {
      val id = new String(b, p, 4, "ISO-8859-1")
      val sz = leU32(b, p + 4)
      if (id == "fmt " && p + 8 + 16 <= b.length) {
        rate = Some(leU32(b, p + 12).toInt)
        byteRate = leU32(b, p + 16)
      } else if (id == "data" && byteRate > 0) {
        durMs = Some(sz * 1000 / byteRate)
      }
      p += (8 + sz + (sz & 1)).toInt
      if (sz <= 0) p = b.length
    }
    Info(Vector.empty, Vector.empty, Vector.empty, durMs, rate)
  }
}
