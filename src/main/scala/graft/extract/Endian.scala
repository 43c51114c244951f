package graft.extract

/** Fixed-width integer reads at an offset of a byte array, named by byte
  * order: `le*` for the little-endian formats (DBF, PST, CFBF, BIFF, Jet,
  * RAR, 7z, WAV), `be*` for the big-endian ones (ISO BMFF, SQLite). An
  * offset past the end throws, as the array read does; a reader that
  * must not throw checks its bounds first (see [[OleMeta]]). */
object Endian {
  def le16(b: Array[Byte], o: Int): Int = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  def leI32(b: Array[Byte], o: Int): Int = le16(b, o) | (le16(b, o + 2) << 16)
  def leU32(b: Array[Byte], o: Int): Long = leI32(b, o) & 0xffffffffL
  def le64(b: Array[Byte], o: Int): Long = leU32(b, o) | (leU32(b, o + 4) << 32)

  def be16(b: Array[Byte], o: Int): Int = ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
  def beU32(b: Array[Byte], o: Int): Long =
    ((be16(b, o).toLong) << 16) | be16(b, o + 2)
  def be64(b: Array[Byte], o: Int): Long = (beU32(b, o) << 32) | beU32(b, o + 4)
}
