package graft.coverage

import scala.collection.mutable.ArrayBuffer

/** A sorted-runs bitmap over the non-negative Int domain (u32-analog),
  * standing in for the reference's RoaringBitmap (coverage.rs:48-57) with
  * identical set semantics. RoaringBitmap itself ships in Spark's jars (a
  * spark-core dependency); we keep this run-length set because its
  * serialized bytes ([[serialize]]) ARE the sidecar format — every
  * coverage and deletion-vector sidecar a table holds is written in it, so
  * switching to Roaring would mean a new on-disk format and a migration.
  * Runs are inclusive `[start, end]`, sorted,
  * non-adjacent, non-overlapping. All ops are O(runs), and coverage domains
  * are small (bucket ids), so this is driver-friendly even at 100 TB: the
  * bitmap size scales with *time span / bucket*, not data volume.
  */
final class Bitmap private (private val runs: Array[(Int, Int)]) extends Serializable {

  def runList: Seq[(Int, Int)] = runs.toSeq

  def runCount: Int = runs.length

  def isEmpty: Boolean = runs.isEmpty

  def cardinality: Long = runs.foldLeft(0L) { case (n, (s, e)) => n + (e - s + 1L) }

  def contains(x: Int): Boolean = {
    // binary search over run starts
    var lo = 0; var hi = runs.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val (s, e) = runs(mid)
      if (x < s) hi = mid - 1
      else if (x > e) lo = mid + 1
      else return true
    }
    false
  }

  def union(other: Bitmap): Bitmap =
    Bitmap.fromRuns(runs.toSeq ++ other.runs.toSeq)

  def intersect(other: Bitmap): Bitmap = {
    val out = ArrayBuffer.empty[(Int, Int)]
    var i = 0; var j = 0
    while (i < runs.length && j < other.runs.length) {
      val (s1, e1) = runs(i); val (s2, e2) = other.runs(j)
      val s = math.max(s1, s2); val e = math.min(e1, e2)
      if (s <= e) out += ((s, e))
      if (e1 < e2) i += 1 else j += 1
    }
    new Bitmap(out.toArray)
  }

  /** expected − this (reference: coverage.rs:102-106 missing_points). */
  def missingFrom(expected: Bitmap): Bitmap = expected.andNot(this)

  /** this − other. */
  def andNot(other: Bitmap): Bitmap = {
    val out = ArrayBuffer.empty[(Int, Int)]
    var j = 0
    for ((s0, e0) <- runs) {
      var s = s0
      while (j < other.runs.length && other.runs(j)._2 < s) j += 1
      var k = j
      var cur = s
      var done = false
      while (!done && cur <= e0) {
        if (k >= other.runs.length || other.runs(k)._1 > e0) {
          out += ((cur, e0)); done = true
        } else {
          val (os, oe) = other.runs(k)
          if (os > cur) out += ((cur, os - 1))
          if (oe >= e0) done = true
          else { cur = oe + 1; k += 1 }
        }
      }
    }
    new Bitmap(out.toArray)
  }

  /** Maximal contiguous runs of `expected − this`, optionally split into
    * chunks of ≤ maxRunLen (reference: coverage.rs:114-127, 268-325;
    * maxRunLen=0 → empty, matching split_runs_by_len). */
  def missingRuns(expected: Bitmap, maxRunLen: Long): Seq[(Int, Int)] = {
    if (maxRunLen == 0L) return Nil
    missingFrom(expected).runList.flatMap { case (s, e) =>
      val out = ArrayBuffer.empty[(Int, Int)]
      var cur = s.toLong
      while (cur <= e) {
        // overflow-safe: maxRunLen may be Long.MaxValue
        val end = if (maxRunLen - 1 >= e - cur) e.toLong else cur + (maxRunLen - 1)
        out += ((cur.toInt, end.toInt))
        cur = end + 1
      }
      out
    }
  }

  /** Highest contiguous covered run (∩ expected) with length ≥ minLen;
    * minLen=0 → None (reference: coverage.rs:134-157). */
  def lastRunWithMinLen(expected: Bitmap, minLen: Long): Option[(Int, Int)] = {
    if (minLen == 0L) return None
    intersect(expected).runList.reverseIterator
      .find { case (s, e) => (e - s + 1L) >= minLen }
  }

  /** |present ∩ expected| / |expected|; vacuous 1.0 (coverage.rs:167-176). */
  def coverageRatio(expected: Bitmap): Double = {
    val total = expected.cardinality
    if (total == 0L) 1.0
    else intersect(expected).cardinality.toDouble / total.toDouble
  }

  /** Longest missing run length within expected, 0 if fully covered
    * (coverage.rs:182-193). */
  def maxGapLen(expected: Bitmap): Long =
    missingFrom(expected).runList.foldLeft(0L) { case (m, (s, e)) =>
      math.max(m, e - s + 1L)
    }

  /** Newest fully-covered contiguous window of exactly `len` buckets ending
    * ≤ endBucket; len=0 → None (coverage.rs:205-252). */
  def lastWindowAtOrBefore(endBucket: Int, len: Long): Option[(Int, Int)] = {
    if (len == 0L) return None
    runs.reverseIterator.flatMap { case (s, e) =>
      val effEnd = math.min(e.toLong, endBucket.toLong)
      val start = effEnd - len + 1
      if (effEnd >= s && start >= s) Some((start.toInt, effEnd.toInt)) else None
    }.nextOption()
  }

  /** Binary serialization: magic, run count, (start,end)*; analog of the
    * reference's RoaringBitmap sidecar bytes (coverage/serde.rs:71-103) —
    * byte format is ours, semantics match. */
  def serialize(): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + runs.length * 8)
    bb.putInt(Bitmap.Magic)
    bb.putInt(runs.length)
    runs.foreach { case (s, e) => bb.putInt(s); bb.putInt(e) }
    bb.array()
  }

  override def equals(o: Any): Boolean = o match {
    case b: Bitmap => java.util.Arrays.equals(
      runs.asInstanceOf[Array[AnyRef]], b.runs.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int = runs.toSeq.hashCode()
  override def toString: String =
    runs.map { case (s, e) => if (s == e) s"$s" else s"$s-$e" }
      .mkString("Bitmap(", ",", ")")
}

object Bitmap {
  private val Magic = 0x47524254 // "GRBT"

  val empty: Bitmap = new Bitmap(Array.empty)

  def apply(points: Iterable[Int]): Bitmap = {
    val sorted = points.toArray
    java.util.Arrays.sort(sorted)
    val out = ArrayBuffer.empty[(Int, Int)]
    var i = 0
    while (i < sorted.length) {
      require(sorted(i) >= 0, s"bucket id ${sorted(i)} outside non-negative domain")
      val s = sorted(i)
      var e = s
      i += 1
      while (i < sorted.length && sorted(i) <= e + 1) { e = sorted(i); i += 1 }
      out += ((s, e))
    }
    new Bitmap(out.toArray)
  }

  /** Inclusive range [start, end]. */
  def range(start: Int, end: Int): Bitmap = {
    require(start >= 0 && end >= start, s"bad range [$start,$end]")
    new Bitmap(Array((start, end)))
  }

  def fromRuns(rs: Seq[(Int, Int)]): Bitmap = {
    val sorted = rs.sortBy(_._1)
    val out = ArrayBuffer.empty[(Int, Int)]
    for ((s, e) <- sorted) {
      require(s >= 0 && e >= s, s"bad run [$s,$e]")
      if (out.nonEmpty && s.toLong <= out.last._2.toLong + 1)
        out(out.length - 1) = (out.last._1, math.max(out.last._2, e))
      else out += ((s, e))
    }
    new Bitmap(out.toArray)
  }

  def deserialize(bytes: Array[Byte]): Bitmap = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    require(bb.getInt() == Magic, "bad bitmap magic")
    val n = bb.getInt()
    val runs = Array.fill(n)((bb.getInt(), bb.getInt()))
    new Bitmap(runs)
  }
}
