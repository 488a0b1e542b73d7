package graft.functions

/** The byte tests the word-scanning kernels ([[BlockWordStats]],
  * [[QualityScanStats]], [[TokenCounts]], [[WordShingleSigs]]) share,
  * so they split text into the same words as
  * [[graft.queries.Q.words]]: a word is a maximal run of non-`\s`
  * bytes.
  */
private[functions] object WordBytes {

  /** Java's `\s` class `[ \t\n\x0B\f\r]`, over a byte or a code point.
    * It is ASCII only, and every UTF-8 lead or continuation byte is
    * >= 0x80, so a byte scan never splits a multi-byte character and
    * non-ASCII whitespace is not whitespace, as in Java regex. */
  def isWs(b: Int): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' ||
      b == '\r'

  def lowerAscii(b: Byte): Byte =
    if (b >= 'A' && b <= 'Z') (b + 32).toByte else b

  /** A plan-time word set as the UTF-8 byte literal the word-set
    * kernels take. */
  def prepare(words: Seq[String]): Array[Array[Byte]] =
    words.map(_.getBytes("UTF-8")).toArray

  /** Whether the `len` bytes at `start`, ASCII-lowercased, equal a word
    * of `set` (lowercase ASCII words from [[prepare]]). */
  def inSet(bytes: Array[Byte], start: Int, len: Int,
      set: Array[Array[Byte]]): Boolean = {
    var w = 0
    while (w < set.length) {
      val sw = set(w)
      if (sw.length == len) {
        var j = 0
        while (j < len && lowerAscii(bytes(start + j)) == sw(j)) j += 1
        if (j == len) return true
      }
      w += 1
    }
    false
  }
}
