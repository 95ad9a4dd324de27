package graft.maintain

/** Space-filling-curve kernels for multi-dimensional clustering: 3-D
  * bit-interleaved Z-order and Hilbert (Skilling's transpose algorithm,
  * "Programming the Hilbert curve", AIP Conf. Proc. 707, 2004 — public
  * algorithm), plus the plain concatenation that gives the "lexico"
  * layout a key of the same shape. 21 bits per dimension × 3 dims =
  * 63-bit keys that fit a LongType column, so the cluster sort key stays
  * inside Tungsten's long-comparator fast path and whole-stage codegen
  * (no binary-type or UDF boxing in the hot rewrite path).
  *
  * New functionality vs the reference (north rule): the reference clusters
  * on one time axis; these curves cluster on (source, n_tok, doc_id).
  */
object SpaceCurve {

  val BitsPerDim = 21
  val MaxCoord: Long = (1L << BitsPerDim) - 1

  /** MSB-first interleave of 3 coords, `bits` bits each → 3*bits-bit key. */
  def zOrder3(x: Long, y: Long, z: Long, bits: Int): Long = {
    var h = 0L
    var k = bits - 1
    while (k >= 0) {
      h = (h << 3) | (((x >>> k) & 1L) << 2) | (((y >>> k) & 1L) << 1) | ((z >>> k) & 1L)
      k -= 1
    }
    h
  }

  /** Concatenation of 3 coords, `bits` bits each, `x` in the high bits:
    * key order is the coordinates' lexicographic order. */
  def lexico3(x: Long, y: Long, z: Long, bits: Int): Long =
    (x << (2 * bits)) | (y << bits) | z

  /** 3-D Hilbert index via Skilling's AxesToTranspose + MSB interleave. */
  def hilbert3(x: Long, y: Long, z: Long, bits: Int): Long = {
    val xs = Array(x & ((1L << bits) - 1), y & ((1L << bits) - 1), z & ((1L << bits) - 1))
    // AxesToTranspose (in place)
    var q = 1L << (bits - 1)
    while (q > 1L) {
      val p = q - 1
      var i = 0
      while (i < 3) {
        if ((xs(i) & q) != 0L) xs(0) ^= p
        else { val t = (xs(0) ^ xs(i)) & p; xs(0) ^= t; xs(i) ^= t }
        i += 1
      }
      q >>= 1
    }
    // Gray encode
    xs(1) ^= xs(0); xs(2) ^= xs(1)
    var t = 0L
    q = 1L << (bits - 1)
    while (q > 1L) { if ((xs(2) & q) != 0L) t ^= q - 1; q >>= 1 }
    xs(0) ^= t; xs(1) ^= t; xs(2) ^= t
    // transpose → index, MSB first
    var h = 0L
    var k = bits - 1
    while (k >= 0) {
      h = (h << 3) | (((xs(0) >>> k) & 1L) << 2) | (((xs(1) >>> k) & 1L) << 1) | ((xs(2) >>> k) & 1L)
      k -= 1
    }
    h
  }

  /** Inverse of hilbert3 (test oracle for bijectivity/adjacency). */
  def hilbert3Inverse(h: Long, bits: Int): (Long, Long, Long) = {
    val xs = new Array[Long](3)
    var k = bits - 1
    var shift = 3 * bits - 1
    while (k >= 0) {
      xs(0) |= ((h >>> shift) & 1L) << k; shift -= 1
      xs(1) |= ((h >>> shift) & 1L) << k; shift -= 1
      xs(2) |= ((h >>> shift) & 1L) << k; shift -= 1
      k -= 1
    }
    // Gray decode
    var t = xs(2) >> 1
    var i = 2
    while (i > 0) { xs(i) ^= xs(i - 1); i -= 1 }
    xs(0) ^= t
    // TransposeToAxes
    var q = 2L
    while (q != (1L << bits)) {
      val p = q - 1
      var j = 2
      while (j >= 0) {
        if ((xs(j) & q) != 0L) xs(0) ^= p
        else { val t2 = (xs(0) ^ xs(j)) & p; xs(0) ^= t2; xs(j) ^= t2 }
        j -= 1
      }
      q <<= 1
    }
    (xs(0), xs(1), xs(2))
  }

  /** 7 bytes of a UTF-8 string starting at `skip` as a non-negative
    * big-endian value (56 bits). Order-preserving within a domain sharing
    * the skipped prefix. */
  def stringPrefix7(s: String, skip: Int): Long = {
    val bytes = s.getBytes("UTF-8")
    var v = 0L
    var i = skip
    val end = skip + 7
    while (i < end) {
      v = (v << 8) | (if (i < bytes.length) bytes(i) & 0xffL else 0L)
      i += 1
    }
    v
  }

  /** Order-preserving, RANGE-NORMALIZED string coordinate: the 7-byte
    * prefix value after `skip` is linearly rescaled from the fitted
    * [pmin, pmax] (observed column min/max from manifest stats) onto
    * [0, 2^bits). Both the skip (longest common prefix) and the rescale
    * are required: without them, domains like "doc-%012d" or ASCII-digit
    * suffixes occupy a sliver of the coordinate space and the interleaved
    * curve degenerates to fewer effective dimensions. */
  def stringPrefixBits(s: org.apache.spark.unsafe.types.UTF8String, skip: Int,
                       pmin: Long, pmax: Long, bits: Int): Long = {
    val bytes = s.getBytes
    var v = 0L
    var i = skip
    val end = skip + 7
    while (i < end) {
      v = (v << 8) | (if (i < bytes.length) bytes(i) & 0xffL else 0L)
      i += 1
    }
    val span = math.max(pmax - pmin, 1L).toDouble
    val maxCoord = (1L << bits) - 1
    val scaled = ((v - pmin).toDouble * maxCoord / span).toLong
    math.min(math.max(scaled, 0L), maxCoord)
  }

  /** Longest common prefix length of two strings (byte-wise). */
  def lcpLen(a: String, b: String): Int = {
    val ab = a.getBytes("UTF-8"); val bb = b.getBytes("UTF-8")
    var i = 0
    while (i < ab.length && i < bb.length && ab(i) == bb(i)) i += 1
    i
  }
}
