package graft.extract

import graft.core.ProcessingError

/** From-scratch LZMA / LZMA2 decoder (public LZMA specification) — the
  * payload codec behind 7-Zip archives, which the reference reads via py7zr
  * (`/root/reference/ingestors/packages/__init__.py` SevenZipIngestor).
  *
  * LZMA1: range coder + adaptive bit model, literal/match/rep state
  * machine, bit-tree position slots. LZMA2: chunked layer on top with
  * state/props/dict reset control bytes; each chunk restarts the range
  * coder while probabilities persist unless reset. */
object Lzma {

  private final class RangeDecoder(d: Array[Byte], var pos: Int, val end: Int) {
    var range: Int = -1 // 0xFFFFFFFF
    var code: Int = 0
    // init: one ignored byte + 4 code bytes
    pos += 1
    var k = 0
    while (k < 4) { code = (code << 8) | next(); k += 1 }

    private def next(): Int = {
      if (pos >= end) throw new ProcessingError("lzma: truncated stream")
      val b = d(pos) & 0xff
      pos += 1
      b
    }
    @inline private def normalize(): Unit =
      if ((range & 0xff000000) == 0) { range <<= 8; code = (code << 8) | next() }

    def decodeBit(probs: Array[Short], i: Int): Int = {
      val p = probs(i) & 0xffff
      val bound = (range >>> 11) * p
      // unsigned compare code < bound
      if ((code ^ Int.MinValue) < (bound ^ Int.MinValue)) {
        range = bound
        probs(i) = (p + ((2048 - p) >>> 5)).toShort
        normalize()
        0
      } else {
        range -= bound
        code -= bound
        probs(i) = (p - (p >>> 5)).toShort
        normalize()
        1
      }
    }

    def decodeDirect(n: Int): Int = {
      var res = 0
      var i = n
      while (i > 0) {
        range = range >>> 1
        code -= range
        val t = 0 - (code >>> 31) // 0 or -1
        code += range & t
        res = (res << 1) | (t + 1)
        normalize()
        i -= 1
      }
      res
    }

    def bitTree(probs: Array[Short], off: Int, n: Int): Int = {
      var m = 1
      var i = 0
      while (i < n) { m = (m << 1) | decodeBit(probs, off + m); i += 1 }
      m - (1 << n)
    }

    def bitTreeReverse(probs: Array[Short], off: Int, n: Int): Int = {
      var m = 1
      var sym = 0
      var i = 0
      while (i < n) {
        val b = decodeBit(probs, off + m)
        m = (m << 1) | b
        sym |= b << i
        i += 1
      }
      sym
    }
  }

  /** Length coder: choice + choice2 + low/mid trees per posState + high. */
  private final class LenCoder {
    val choice = newProbs(2)
    val low = newProbs(16 << 3)
    val mid = newProbs(16 << 3)
    val high = newProbs(256)
    def decode(rc: RangeDecoder, posState: Int): Int = {
      if (rc.decodeBit(choice, 0) == 0) rc.bitTree(low, posState << 3, 3)
      else if (rc.decodeBit(choice, 1) == 0) 8 + rc.bitTree(mid, posState << 3, 3)
      else 16 + rc.bitTree(high, 0, 8)
    }
  }

  private def newProbs(n: Int): Array[Short] = Array.fill(n)(1024.toShort)

  /** Persistent decoder state across LZMA2 chunks. */
  private final class State(var lc: Int, var lp: Int, var pb: Int) {
    var state = 0
    var rep0, rep1, rep2, rep3 = 0
    var isMatch: Array[Short] = _
    var isRep, isRepG0, isRepG1, isRepG2: Array[Short] = _
    var isRep0Long: Array[Short] = _
    var posSlot: Array[Short] = _
    var specPos: Array[Short] = _
    var align: Array[Short] = _
    var lenCoder, repLenCoder: LenCoder = _
    var literals: Array[Short] = _
    reset()

    def setProps(props: Int): Unit = {
      if (props >= 9 * 5 * 5) throw new ProcessingError("lzma: bad props")
      lc = props % 9
      lp = (props / 9) % 5
      pb = props / 45
      if (pb > 4) throw new ProcessingError("lzma: bad pb")
    }

    def reset(): Unit = {
      state = 0; rep0 = 0; rep1 = 0; rep2 = 0; rep3 = 0
      isMatch = newProbs(12 << 4)
      isRep = newProbs(12); isRepG0 = newProbs(12)
      isRepG1 = newProbs(12); isRepG2 = newProbs(12)
      isRep0Long = newProbs(12 << 4)
      posSlot = newProbs(4 * 64)
      specPos = newProbs(115)
      align = newProbs(16)
      lenCoder = new LenCoder; repLenCoder = new LenCoder
      literals = newProbs(0x300 << (lc + lp))
    }
  }

  /** Decode one LZMA stream segment into `out` (which may already hold
    * dictionary history) until `outLimit` bytes total. */
  private def decodeSegment(st: State, rc: RangeDecoder,
                            window: Window, outLimit: Long,
                            cap: Long): Unit = {
    val posMask = (1 << st.pb) - 1
    val litPosMask = (1 << st.lp) - 1
    while (window.total < outLimit) {
      if (window.total > cap) throw new ProcessingError("lzma: output exceeds cap")
      val posState = (window.total & posMask).toInt
      if (rc.decodeBit(st.isMatch, (st.state << 4) + posState) == 0) {
        // literal
        val prevByte = if (window.total == 0) 0 else window.last & 0xff
        val litState = (((window.total & litPosMask).toInt << st.lc) +
          (prevByte >>> (8 - st.lc))) * 0x300
        var sym = 1
        if (st.state >= 7) {
          var matchByte = window.byteAt(st.rep0) & 0xff
          var break = false
          while (!break && sym < 0x100) {
            matchByte <<= 1
            val matchBit = matchByte & 0x100
            val b = rc.decodeBit(st.literals, litState + 0x100 + matchBit + sym)
            sym = (sym << 1) | b
            if (matchBit != (b << 8)) break = true
          }
        }
        while (sym < 0x100)
          sym = (sym << 1) | rc.decodeBit(st.literals, litState + sym)
        window.put((sym & 0xff).toByte)
        st.state = if (st.state < 4) 0 else if (st.state < 10) st.state - 3 else st.state - 6
      } else {
        var len = 0
        if (rc.decodeBit(st.isRep, st.state) == 1) {
          // rep match
          if (rc.decodeBit(st.isRepG0, st.state) == 0) {
            if (rc.decodeBit(st.isRep0Long, (st.state << 4) + posState) == 0) {
              // short rep
              st.state = if (st.state < 7) 9 else 11
              window.put(window.byteAt(st.rep0))
              // continue main loop
              len = -1
            }
          } else {
            val dist =
              if (rc.decodeBit(st.isRepG1, st.state) == 0) st.rep1
              else if (rc.decodeBit(st.isRepG2, st.state) == 0) {
                val d = st.rep2; st.rep2 = st.rep1; d
              } else {
                val d = st.rep3; st.rep3 = st.rep2; st.rep2 = st.rep1; d
              }
            st.rep1 = st.rep0
            st.rep0 = dist
          }
          if (len == 0) {
            len = 2 + st.repLenCoder.decode(rc, posState)
            st.state = if (st.state < 7) 8 else 11
            window.copyMatch(st.rep0, len)
          }
        } else {
          // new match
          st.rep3 = st.rep2; st.rep2 = st.rep1; st.rep1 = st.rep0
          len = 2 + st.lenCoder.decode(rc, posState)
          val lenToPosState = math.min(len - 2, 3)
          val slot = rc.bitTree(st.posSlot, lenToPosState << 6, 6)
          if (slot < 4) st.rep0 = slot
          else {
            val numDirect = (slot >> 1) - 1
            var dist = (2 | (slot & 1)) << numDirect
            if (slot < 14) {
              dist += rc.bitTreeReverse(st.specPos, dist - slot - 1, numDirect)
            } else {
              dist += rc.decodeDirect(numDirect - 4) << 4
              dist += rc.bitTreeReverse(st.align, 0, 4)
            }
            st.rep0 = dist
          }
          if (st.rep0 == -1) {
            // end marker (0xFFFFFFFF)
            return
          }
          st.state = if (st.state < 7) 7 else 10
          window.copyMatch(st.rep0, len)
        }
      }
    }
  }

  /** Output window: grows unbounded (we cap by size, not dict bytes). */
  private final class Window(cap: Long) {
    private var buf = new Array[Byte](math.min(cap, 1 << 16).toInt max 1024)
    private var n = 0
    def total: Long = n.toLong
    def last: Byte = buf(n - 1)
    def byteAt(dist: Int): Byte = {
      val i = n - dist - 1
      if (i < 0) throw new ProcessingError("lzma: match before window start")
      buf(i)
    }
    private def ensure(extra: Int): Unit = {
      if (n + extra > buf.length) {
        val want = math.max(buf.length.toLong * 2, n.toLong + extra)
        if (want > cap + 1024 || want > Int.MaxValue - 8)
          throw new ProcessingError("lzma: output exceeds cap")
        buf = java.util.Arrays.copyOf(buf, want.toInt)
      }
    }
    def put(b: Byte): Unit = { ensure(1); buf(n) = b; n += 1 }
    def copyMatch(dist: Int, len: Int): Unit = {
      if (dist >= n) throw new ProcessingError("lzma: bad distance")
      ensure(len)
      var i = 0
      val src = n - dist - 1
      while (i < len) { buf(n + i) = buf(src + i); i += 1 }
      n += len
    }
    def bytes: Array[Byte] = java.util.Arrays.copyOf(buf, n)
  }

  /** Raw LZMA1 (7z coder 030101): props byte from coder attributes. */
  def decodeLzma1(props: Int, data: Array[Byte], outSize: Long,
                  cap: Long = PackageLimits.MaxMemberBytes): Array[Byte] = {
    if (outSize > cap) throw new ProcessingError("lzma: output exceeds cap")
    val st = new State(0, 0, 0)
    st.setProps(props)
    st.reset()
    val rc = new RangeDecoder(data, 0, data.length)
    val win = new Window(cap)
    decodeSegment(st, rc, win, outSize, cap)
    win.bytes
  }

  /** LZMA2 (7z coder 21): chunked stream with reset control. */
  def decodeLzma2(data: Array[Byte], outSize: Long,
                  cap: Long = PackageLimits.MaxMemberBytes): Array[Byte] = {
    if (outSize > cap) throw new ProcessingError("lzma2: output exceeds cap")
    val win = new Window(cap)
    var st: State = null
    var p = 0
    var done = false
    while (!done && p < data.length && win.total < outSize) {
      val control = data(p) & 0xff
      p += 1
      if (control == 0) done = true
      else if (control <= 2) {
        // uncompressed chunk (1 = with dict reset)
        if (p + 2 > data.length) throw new ProcessingError("lzma2: truncated")
        val size = (((data(p) & 0xff) << 8) | (data(p + 1) & 0xff)) + 1
        p += 2
        if (p + size > data.length) throw new ProcessingError("lzma2: truncated")
        var i = 0
        while (i < size) { win.put(data(p + i)); i += 1 }
        p += size
      } else if (control >= 0x80) {
        // 4 header bytes, +1 props byte when resetMode >= 2
        if (p + 4 + (if (((control >> 5) & 3) >= 2) 1 else 0) > data.length)
          throw new ProcessingError("lzma2: truncated")
        val unpack = (((control & 0x1f) << 16) |
          ((data(p) & 0xff) << 8) | (data(p + 1) & 0xff)) + 1
        val pack = (((data(p + 2) & 0xff) << 8) | (data(p + 3) & 0xff)) + 1
        p += 4
        val resetMode = (control >> 5) & 3
        if (resetMode >= 2) {
          val props = data(p) & 0xff
          p += 1
          if (st == null) st = new State(0, 0, 0)
          st.setProps(props)
          st.reset()
        } else if (resetMode == 1) {
          if (st == null) throw new ProcessingError("lzma2: state reset before props")
          st.reset()
        } else if (st == null)
          throw new ProcessingError("lzma2: chunk before props")
        if (p + pack > data.length) throw new ProcessingError("lzma2: truncated")
        val rc = new RangeDecoder(data, p, p + pack)
        decodeSegment(st, rc, win, win.total + unpack, cap)
        p += pack
      } else throw new ProcessingError("lzma2: bad control byte")
    }
    win.bytes
  }
}
