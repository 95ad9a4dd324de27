package graft.coverage

import graft.table.BucketDomainOverflowException

/** Folds time values, one row at a time, into a coverage bitmap — the one
  * place the row → bucket rule lives (reference: coverage.rs:263-353):
  *  - bucket = max(micros, 0) / (bucketSeconds × 10^6): pre-epoch values
  *    clamp to bucket 0, and on the clamped non-negative domain integer
  *    division is the floor;
  *  - a bucket above Int.MaxValue (the u32 domain) throws
  *    [[BucketDomainOverflowException]];
  *  - null times carry no coverage: callers simply do not add them.
  * A repeat of the previous bucket is skipped (time-ordered input repeats
  * its bucket on almost every row), and new buckets collect in a buffer
  * that is flushed into the bitmap's runs when full, so memory scales with
  * the bitmap's runs, not with rows. The buffer grows to the bitmap's run
  * count, so each flush, whose cost grows with the runs, is paid for by as
  * many new buckets (singleton-run shapes stay near-linear). */
final class CoverageAccumulator(bucketSeconds: Long) {
  private val bucketMicros = bucketSeconds * 1000000L
  private var buf = new Array[Int](CoverageAccumulator.MinBuffer)
  private var n = 0
  private var last = -1
  private var acc = Bitmap.empty

  def add(epochMicros: Long): Unit = {
    val b = math.max(epochMicros, 0L) / bucketMicros
    if (b > Int.MaxValue) throw BucketDomainOverflowException(b)
    if (b != last) {
      last = b.toInt
      buf(n) = last
      n += 1
      if (n == buf.length) flush()
    }
  }

  def result(): Bitmap = { flush(); acc }

  private def flush(): Unit = if (n > 0) {
    acc = acc.union(Bitmap(buf.take(n)))
    n = 0
    if (acc.runCount > buf.length) buf = new Array[Int](acc.runCount)
  }
}

object CoverageAccumulator {
  private val MinBuffer = 8192
}
