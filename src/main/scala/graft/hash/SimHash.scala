package graft.hash

import graft.text.TextUtils

/** Charikar simhash + token sampling (hashing.py:14-135). */
object SimHash {

  /** Python string.punctuation, as a table over ASCII (a Set[Char] boxes
    * per lookup). */
  private val Punct: Array[Boolean] = {
    val t = new Array[Boolean](128)
    "!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~".foreach(c => t(c) = true)
    t
  }
  @inline private def isPunct(c: Char): Boolean = c < 128 && Punct(c)

  /** Python str.split() whitespace: Java's class plus the no-break spaces
    * Java excludes (see sampleTokens scaladoc) and U+0085 NEL, which Python
    * treats as whitespace but Character.isWhitespace does not (ADVICE r5). */
  @inline private def isPySpace(c: Char): Boolean =
    Character.isWhitespace(c) || c == '\u00A0' || c == '\u2007' || c == '\u202F' ||
      c == '\u0085'

  /** sample_tokens (hashing.py:14-27): split, strip punctuation, keep alnum,
    * adaptive min length to keep >= length/2 tokens.
    *
    * Index-scan implementation (no regex split, no per-token reverse/
    * dropWhile copies, single filter pass). Token boundary is Python's
    * `str.split()` whitespace class: `Character.isWhitespace` PLUS the
    * no-break spaces U+00A0/U+2007/U+202F, which Python treats as
    * whitespace but Java does not (`str.isspace()` follows the Unicode
    * WSpace property; Java carves out the non-breaking ones). U+00A0 is
    * ubiquitous in HTML after `&nbsp;` entity decoding, so excluding it
    * would join NBSP-separated tokens and diverge fingerprints from the
    * reference on common web content (ADVICE r4). Fingerprints persisted by
    * pre-r5 builds differ for NBSP-bearing docs. The fingerprint phase was
    * ~20 KB/doc of allocation, which matters because the kernel is
    * memory-bandwidth-bound at high core counts (allocation profile). */
  def sampleTokens(input: String, length: Int = 64): List[String] = {
    val buf = sampleTokensBuf(input, length)
    var out = List.empty[String]
    var t = buf.length - 1
    while (t >= 0) { out = buf(t) :: out; t -= 1 }
    out
  }

  private val tokScratch = new ThreadLocal[scala.collection.mutable.ArrayBuffer[String]] {
    override def initialValue() = new scala.collection.mutable.ArrayBuffer[String](128)
  }

  /** Internal buffer-returning variant (thread-local scratch, valid until
    * the next call on the same thread) — createHash/generateBowHash iterate
    * it directly, skipping the per-token cons cells (allocation profile). */
  private[hash] def sampleTokensBuf(input: String,
      length: Int = 64): scala.collection.mutable.ArrayBuffer[String] = {
    val toks = tokScratch.get()
    toks.clear()
    val n = input.length
    var i = 0
    while (i < n) {
      while (i < n && isPySpace(input.charAt(i))) i += 1
      var j = i
      while (j < n && !isPySpace(input.charAt(j))) j += 1
      if (j > i) {
        // strip leading/trailing ASCII punctuation (string.punctuation)
        var a = i
        var b = j
        while (a < b && isPunct(input.charAt(a))) a += 1
        while (b > a && isPunct(input.charAt(b - 1))) b -= 1
        if (b > a) {
          var k = a
          var alnum = true
          while (k < b && alnum) {
            if (!Character.isLetterOrDigit(input.charAt(k))) alnum = false
            k += 1
          }
          if (alnum) toks += input.substring(a, b)
        }
        i = j
      }
    }
    // adaptive min length: first i in 4..0 keeping >= length/2 tokens;
    // falls through to the i=0 sample like the reference loop
    var minLen = 4
    var chosen = -1
    while (minLen >= 0 && chosen < 0) {
      var c = 0
      var t = 0
      while (t < toks.length) { if (toks(t).length > minLen) c += 1; t += 1 }
      if (c >= length / 2 || minLen == 0) chosen = minLen
      else minLen -= 1
    }
    // compact in place to the chosen sample
    var w = 0
    var t = 0
    while (t < toks.length) {
      if (toks(t).length > chosen) { toks(w) = toks(t); w += 1 }
      t += 1
    }
    toks.takeInPlace(w)
    toks
  }

  /** _hash (hashing.py:58-62): big-endian 8-byte blake2b digest as unsigned. */
  def tokenHash(token: String): Long = {
    val d = Blake2b.digest(token.getBytes(java.nio.charset.StandardCharsets.UTF_8), 8)
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  /** Token-hash memo mirroring the reference's lru_cache(2**14) on
    * `Simhash._vector_to_add` (hashing.py:76, see SURVEY §4.1): natural-
    * language tokens repeat heavily, so the per-token blake2b (the dominant
    * kernel fingerprint cost, ~35 µs/doc) amortizes to a map lookup.
    * Thread-local: task-scoped like the reference's per-process cache,
    * no contention. */
  private val tokenMemo = new ThreadLocal[java.util.LinkedHashMap[String, java.lang.Long]] {
    override def initialValue() =
      new java.util.LinkedHashMap[String, java.lang.Long](16384, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, java.lang.Long]): Boolean = size() > 16384
      }
  }

  private def tokenHashMemo(token: String): Long = {
    val m = tokenMemo.get()
    val cached = m.get(token)
    if (cached != null) cached.longValue()
    else {
      val h = tokenHash(token)
      m.put(token, java.lang.Long.valueOf(h))
      h
    }
  }

  /** create_hash (hashing.py:82-93): 64-bit Charikar simhash. */
  def createHash(input: String): Long = {
    val vector = new Array[Int](64)
    val toks = sampleTokensBuf(input)
    var ti = 0
    while (ti < toks.length) {
      val token = toks(ti)
      ti += 1
      val th = tokenHashMemo(token)
      // +1 for a set bit, -1 for a clear one, without a branch per bit
      var i = 0
      while (i < 64) {
        vector(i) += (((th >>> i).toInt & 1) << 1) - 1
        i += 1
      }
    }

    var out = 0L
    var i = 0
    while (i < 64) { if (vector(i) >= 0) out |= (1L << i); i += 1 }
    out
  }

  def toHex(hash: Long): String = java.lang.Long.toHexString(hash)

  def hammingDistance(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  def similarity(a: Long, b: Long): Double = (64 - hammingDistance(a, b)) / 64.0

  /** content_fingerprint (hashing.py:133-135). */
  def contentFingerprint(content: String): String = toHex(createHash(content))

  /** generate_bow_hash (hashing.py:30-34). */
  def generateBowHash(input: String, length: Int = 24): Array[Byte] = {
    val teststring = sampleTokensBuf(input).mkString(" ").trim
    Blake2b.digest(teststring.getBytes(java.nio.charset.StandardCharsets.UTF_8), length)
  }

  /** generate_hash_filename (hashing.py:37-41). */
  def generateHashFilename(content: String): String = {
    val noXml = content.replaceAll("<[^<]+?>", "")
    java.util.Base64.getUrlEncoder.encodeToString(generateBowHash(noXml, 12))
  }
}
