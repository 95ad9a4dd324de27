package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.maintain.{ClusterKey, CurveKey3, SpaceCurve, StringPrefixBits}

class SpaceCurveSpec extends AnyFunSuite {

  test("zOrder3 interleaves bits MSB-first") {
    // x=1,y=0,z=0 at 1 bit -> 0b100
    assert(SpaceCurve.zOrder3(1, 0, 0, 1) == 4L)
    assert(SpaceCurve.zOrder3(0, 1, 0, 1) == 2L)
    assert(SpaceCurve.zOrder3(0, 0, 1, 1) == 1L)
    assert(SpaceCurve.zOrder3(3, 0, 3, 2) == 0x2dL) // 101101
    // monotone in each dim when others fixed
    val base = SpaceCurve.zOrder3(5, 9, 2, SpaceCurve.BitsPerDim)
    assert(SpaceCurve.zOrder3(6, 9, 2, SpaceCurve.BitsPerDim) > base)
  }

  test("hilbert3 is a bijection on the 3-bit cube") {
    val bits = 3
    val n = 1 << bits
    val seen = scala.collection.mutable.Set.empty[Long]
    for (x <- 0 until n; y <- 0 until n; z <- 0 until n) {
      val h = SpaceCurve.hilbert3(x, y, z, bits)
      assert(h >= 0 && h < (1L << (3 * bits)))
      assert(seen.add(h), s"duplicate index $h at ($x,$y,$z)")
      val (ix, iy, iz) = SpaceCurve.hilbert3Inverse(h, bits)
      assert((ix, iy, iz) == ((x.toLong, y.toLong, z.toLong)), s"inverse mismatch at ($x,$y,$z)")
    }
    assert(seen.size == n * n * n)
  }

  test("hilbert3 adjacency: consecutive indices are unit steps (true locality)") {
    val bits = 3
    var prev = SpaceCurve.hilbert3Inverse(0, bits)
    for (h <- 1L until (1L << (3 * bits))) {
      val cur = SpaceCurve.hilbert3Inverse(h, bits)
      val d = math.abs(cur._1 - prev._1) + math.abs(cur._2 - prev._2) + math.abs(cur._3 - prev._3)
      assert(d == 1, s"step $h is not unit: $prev -> $cur")
      prev = cur
    }
  }

  test("stringPrefixBits preserves lexicographic order") {
    val strs = Seq("doc-000000000001", "doc-000000999999", "doc-999999999999", "a", "b", "ba")
    val utf = strs.map(org.apache.spark.unsafe.types.UTF8String.fromString)
    val sortedByBits = utf.sortBy(s => SpaceCurve.stringPrefixBits(s, 0, 0L, (1L << 56) - 1, 21)).map(_.toString)
    // 21 bits of 8-byte prefix: ordering must be consistent with string order
    // for strings differing in the first bytes
    assert(sortedByBits.indexOf("a") < sortedByBits.indexOf("b"))
    assert(sortedByBits.indexOf("b") <= sortedByBits.indexOf("ba"))
  }

  test("lexico key: interpreted and codegen agree and follow tuple order") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.{LongType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    // the token shape: (source, n_tok coordinate, doc_id), strings through
    // their fitted order-preserving windows
    val src = ClusterKey.StrEnc.fromRange("src00", "src19")
    val doc = ClusterKey.StrEnc.fromRange("doc-000000000000", "doc-000000099999")
    val key = CurveKey3(
      StringPrefixBits(BoundReference(0, StringType, nullable = false), src.skip, src.pmin, src.pmax),
      BoundReference(1, LongType, nullable = false),
      StringPrefixBits(BoundReference(2, StringType, nullable = false), doc.skip, doc.pmin, doc.pmax),
      "lexico")
    val codegen = GenerateUnsafeProjection.generate(Seq(key))
    val rnd = new scala.util.Random(7)
    val edges = Seq(0L, 1L, SpaceCurve.MaxCoord - 1, SpaceCurve.MaxCoord)
    val tuples = ((for (s <- Seq(0, 19); n <- edges; d <- Seq(0, 99999)) yield (s, n, d)) ++
      Seq.fill(3000)((rnd.nextInt(20), rnd.nextLong() & SpaceCurve.MaxCoord, rnd.nextInt(100000))))
      .map { case (s, n, d) => (f"src$s%02d", n, f"doc-$d%012d") }
      .sorted
    val keys = tuples.map { case (s, n, d) =>
      val row = InternalRow(UTF8String.fromString(s), n, UTF8String.fromString(d))
      val interpreted = key.eval(row).asInstanceOf[Long]
      assert(codegen(row).getLong(0) == interpreted, s"codegen differs at ($s, $n, $d)")
      interpreted
    }
    assert(keys == keys.sorted, "lexico key decreased along sorted tuples")
    // the leading column owns the high bits: any source step outranks
    // every lower dimension
    assert(SpaceCurve.lexico3(1, 0, 0, SpaceCurve.BitsPerDim) >
      SpaceCurve.lexico3(0, SpaceCurve.MaxCoord, SpaceCurve.MaxCoord, SpaceCurve.BitsPerDim))
  }
}
