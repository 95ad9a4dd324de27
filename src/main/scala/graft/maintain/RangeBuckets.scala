package graft.maintain

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.types.{DataType, IntegerType}

/** The clustering router: every clustered write — compaction, CoW and
  * MOR MERGE, MOR UPDATE, the row-id upsert — lays out its rows through
  * [[RangeBuckets.cluster]], for every curve (zorder, hilbert, lexico).
  *
  * It is range partitioning WITHOUT the range exchange's hidden second
  * read. Spark's stock range repartition samples its child to learn
  * boundaries — and the sampling job EXECUTES the full child, so a
  * compaction bin is read and decoded twice per rewrite (measured: the
  * sample pass roughly doubles scan bytes, ~40 % of zorder rewrite wall
  * time — the token payload is ~95 % of the bytes and the sampler decodes
  * it just to throw it away), and a MERGE's read→anti-join→union runs
  * twice. The router splits the two concerns the exchange fuses:
  *
  *  1. boundaries come from an EXPLICIT sample over a NARROW projection
  *     (cluster-key columns only — parquet column pruning skips the
  *     payload), collected once driver-side;
  *  2. routing is a codegen'd binary search over those boundary literals
  *     ([[RangeBucketLabel]]) feeding a plain hash `repartition(n, lbl)`
  *     — whose label values are chosen with [[RangeBuckets.labelsFor]]
  *     to INVERT Spark's `HashPartitioning` (pmod(murmur3(label), n) ==
  *     range index), so range r lands exactly in shuffle partition r and
  *     the hash exchange becomes a range exchange with zero sampling.
  *
  * Net: one full read of the input instead of two, nothing cached, and
  * contiguous (key, salt) ranges per output file (nulls low-ordered).
  */
object RangeBuckets {

  /** Upper bound on sampled rows per bounds pass. */
  private val MaxSample = 1000000L

  /** Lay `rows` out as `outFiles` clustered partitions: curve key + salt →
    * range bucket → in-partition sort → key columns dropped (the written
    * schema is `rows`'s). Boundaries are equi-depth quantiles of a
    * Bernoulli sample of the union of `sampleFrom` (~1000 rows per output
    * file, given `rowsEst` rows in it) — the rows being written or cheaper
    * relations holding the same keys (compaction samples the physical
    * scan, not the DV-filtered, row-id-tracked rewrite; a CoW MERGE the
    * candidates' scan plus the update set). The fit is widened to the
    * sampled values first, so keys past the table's stats (an upsert's new
    * ids) spread over buckets instead of clamping into the last one.
    * `outFiles == 1` samples nothing; an empty sample (zero rows) is one
    * bucket. Curve `none` is a plain `repartition(outFiles)`. */
  private[graft] def cluster(rows: DataFrame, sampleFrom: Seq[DataFrame], rowsEst: Long,
                             curve: String, outFiles: Int, fit: ClusterKey.Fit): DataFrame = {
    import org.apache.spark.sql.graft.Bridge.{ofExpr, toExpr}
    if (!ClusterKey.Curves.contains(curve)) return rows.repartition(outFiles)
    val (f, bk, bs) =
      if (outFiles <= 1) (fit, Array.empty[Long], Array.empty[Long])
      else sampledBounds(sampleFrom, rowsEst, curve, outFiles, fit)
    rows.withColumn("__ckey", keyOf(curve, f))
      .withColumn("__salt", saltOf(curve, f))
      .withColumn("__lbl", ofExpr(RangeBucketLabel(toExpr(col("__ckey")), toExpr(col("__salt")),
        bk.toSeq, bs.toSeq, labelsFor(outFiles).toSeq)))
      .repartition(outFiles, col("__lbl"))
      .sortWithinPartitions(col("__ckey"), col("__salt"))
      .drop("__ckey", "__salt", "__lbl")
  }

  private def keyOf(curve: String, f: ClusterKey.Fit) =
    coalesce(ClusterKey.curveKey(curve, f), lit(Long.MinValue))
  private def saltOf(curve: String, f: ClusterKey.Fit) =
    coalesce(ClusterKey.saltCol(curve, f), lit(0L))

  /** The bounds pass: sample the cluster columns of `sampleFrom`, widen
    * the fit to them, and key the sample driver-side (a projection over a
    * local relation, which Catalyst evaluates without a job) with the
    * SAME key and salt expressions the routing uses. */
  private def sampledBounds(sampleFrom: Seq[DataFrame], rowsEst: Long, curve: String,
                            outFiles: Int, fit: ClusterKey.Fit)
      : (ClusterKey.Fit, Array[Long], Array[Long]) = {
    val fraction = math.min(1.0,
      math.min(outFiles * 1000L, MaxSample).toDouble / math.max(rowsEst, 1L))
    val narrow = sampleFrom.map(_.select(fit.coords.map(c => col(c.column)): _*)).reduce(_ union _)
    val sample = narrow.sample(withReplacement = false, fraction, seed = 42L).collect()
    val f = fit.widen(sample.toSeq)
    val keyed = narrow.sparkSession
      .createDataFrame(java.util.Arrays.asList(sample: _*), narrow.schema)
      .select(keyOf(curve, f), saltOf(curve, f))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val (bk, bs) = boundsFromSample(keyed, outFiles)
    (f, bk, bs)
  }

  /** labels(r) routes range r to shuffle partition r under Spark's
    * `HashPartitioning(Seq(lbl: Int), n)`: the label L(r) is the smallest
    * non-negative Int with pmod(murmur3_42(L), n) == r, found by direct
    * evaluation of the SAME Catalyst expression HashPartitioning uses —
    * no reimplementation to drift. Expected search cost O(n ln n). */
  def labelsFor(n: Int): Array[Int] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash, Pmod}
    require(n >= 1)
    val out = Array.fill(n)(-1)
    var found = 0
    var k = 0
    while (found < n) {
      val pid = Pmod(new Murmur3Hash(Seq(Literal(k))), Literal(n)).eval(null).asInstanceOf[Int]
      if (out(pid) < 0) { out(pid) = k; found += 1 }
      k += 1
    }
    out
  }

  /** n−1 lexicographic (key, salt) quantile boundaries from a collected
    * sample (equi-depth). Duplicate adjacent boundaries are legal — they
    * just leave a bucket empty, and empty output part files are dropped
    * by the swap. */
  def boundsFromSample(sample: Array[(Long, Long)], n: Int): (Array[Long], Array[Long]) = {
    if (n <= 1 || sample.isEmpty) return (Array.empty, Array.empty)
    val s = sample.sorted
    val bk = new Array[Long](n - 1)
    val bs = new Array[Long](n - 1)
    var i = 0
    while (i < n - 1) {
      val idx = math.min((((i + 1).toLong * s.length) / n).toInt, s.length - 1)
      bk(i) = s(idx)._1
      bs(i) = s(idx)._2
      i += 1
    }
    (bk, bs)
  }

  /** r = count of boundaries strictly below (k, s) lexicographically
    * (binary search); returns labels(r). Hot boundary keys split across
    * buckets by the salt component, exactly like the (key, salt) range
    * exchange did. */
  def bucketLabel(k: Long, s: Long, bk: Array[Long], bs: Array[Long],
                  labels: Array[Int]): Int = {
    var lo = 0
    var hi = bk.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (bk(mid) < k || (bk(mid) == k && bs(mid) < s)) lo = mid + 1 else hi = mid
    }
    labels(lo)
  }
}

/** Codegen'd boundary binary search + partition-label lookup; the
  * boundary/label arrays ride into generated code as reference objects
  * (the [[graft.functions.NearestCentroids]] pattern). Seq fields keep
  * expression equality structural. */
case class RangeBucketLabel(key: Expression, salt: Expression,
                            boundsK: Seq[Long], boundsS: Seq[Long], labels: Seq[Int])
    extends BinaryExpression {
  require(boundsK.length == boundsS.length && labels.length == boundsK.length + 1)

  @transient private lazy val bkArr: Array[Long] = boundsK.toArray
  @transient private lazy val bsArr: Array[Long] = boundsS.toArray
  @transient private lazy val lblArr: Array[Int] = labels.toArray

  override def left: Expression = key
  override def right: Expression = salt
  override def dataType: DataType = IntegerType
  override def prettyName: String = "range_bucket_label"

  override protected def nullSafeEval(k: Any, s: Any): Any =
    RangeBuckets.bucketLabel(k.asInstanceOf[Long], s.asInstanceOf[Long], bkArr, bsArr, lblArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bk = ctx.addReferenceObj("rangeBoundsK", bkArr, "long[]")
    val bs = ctx.addReferenceObj("rangeBoundsS", bsArr, "long[]")
    val lb = ctx.addReferenceObj("rangeLabels", lblArr, "int[]")
    defineCodeGen(ctx, ev, (k, s) =>
      s"graft.maintain.RangeBuckets.bucketLabel($k, $s, $bk, $bs, $lb)")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(key = l, salt = r)
}
