package graft.maintain

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the 3-D clustering key. Children are
  * pre-normalized Long coordinates in [0, 2^21); `curve` says how they
  * combine: "zorder" interleaves their bits, "hilbert" maps them along the
  * Hilbert curve, "lexico" concatenates them (leading column in the high
  * bits, so key order is the columns' lexicographic order). `doGenCode`
  * emits a static call so the whole rewrite pipeline stays inside
  * whole-stage codegen (a Scala UDF here would box every row of a 100 TB
  * rewrite). */
case class CurveKey3(first: Expression, second: Expression, third: Expression, curve: String)
    extends TernaryExpression {

  private def kernel: String = curve match {
    case "zorder" => "zOrder3"
    case "hilbert" => "hilbert3"
    case _ => "lexico3"
  }

  override def dataType: DataType = LongType
  override def prettyName: String = s"${curve}_key"

  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any = {
    val (x, y, z) = (a.asInstanceOf[Long], b.asInstanceOf[Long], c.asInstanceOf[Long])
    curve match {
      case "zorder" => SpaceCurve.zOrder3(x, y, z, SpaceCurve.BitsPerDim)
      case "hilbert" => SpaceCurve.hilbert3(x, y, z, SpaceCurve.BitsPerDim)
      case _ => SpaceCurve.lexico3(x, y, z, SpaceCurve.BitsPerDim)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) =>
      s"graft.maintain.SpaceCurve.$kernel($a, $b, $c, ${SpaceCurve.BitsPerDim})")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Lexicographic-order-preserving string→coordinate (7 bytes after the
  * fitted common prefix, rescaled to `bits` bits); codegen'd static call
  * like CurveKey3. */
case class StringPrefixBits(child: Expression, skip: Int, pmin: Long, pmax: Long,
                            bits: Int = SpaceCurve.BitsPerDim)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "string_prefix_bits"

  override protected def nullSafeEval(v: Any): Any =
    SpaceCurve.stringPrefixBits(v.asInstanceOf[UTF8String], skip, pmin, pmax, bits)

  // the fit rides in as a reference, not as literals: a refitted key (every
  // upsert past the max refits) then reuses the compiled class
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fit = ctx.addReferenceObj("prefixFit", Array(skip.toLong, pmin, pmax), "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.maintain.SpaceCurve.stringPrefixBits($c, (int) $fit[0], $fit[1], $fit[2], $bits)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ClusterKey {
  import org.apache.spark.sql.graft.Bridge.{ofExpr, toExpr}

  /** The clustered layouts; any other curve name (`none`) is unclustered. */
  val Curves: Set[String] = Set("zorder", "hilbert", "lexico")

  /** Numeric coordinate range-normalized from [lo, hi] to [0, 2^bits).
    * The scaling runs in DOUBLE space deliberately: long-space
    * (v-lo)*MaxCoord overflows for spans wider than ~2^42 (epoch-micros
    * over a year is 3e13; snowflake ids are 2^63-ish) — under Spark 4's
    * default ANSI mode that fails EVERY rewrite of such a table — and a
    * long-truncating input cast collapses sub-integer ranges (double
    * quality scores in [0,1]) to a single point. A double's 53 mantissa
    * bits are far more than the 21 the coordinate keeps. */
  def numericCoord(c: Column, lo: Double, hi: Double,
                   bits: Int = SpaceCurve.BitsPerDim): Column = {
    val span = if (hi > lo) hi - lo else 1.0
    val top = ((1L << bits) - 1).toDouble
    least(greatest((c.cast("double") - lit(lo)) * lit(top) / lit(span), lit(0.0)),
      lit(top)).cast("long")
  }

  /** Fitted encoding for one string column: skip the longest common
    * prefix, rescale the 7-byte window from [pmin, pmax] onto the full
    * coordinate range. */
  final case class StrEnc(skip: Int, pmin: Long, pmax: Long)
  object StrEnc {
    val identity: StrEnc = StrEnc(0, 0L, (1L << 56) - 1)
    def fromRange(mn: String, mx: String): StrEnc = {
      val skip = SpaceCurve.lcpLen(mn, mx)
      StrEnc(skip, SpaceCurve.stringPrefix7(mn, skip), SpaceCurve.stringPrefix7(mx, skip))
    }
  }

  /** One fitted curve dimension: how a cluster column becomes a
    * [0, 2^bits) coordinate (21 bits in the curve key). */
  sealed trait CoordSpec {
    def column: String
    def coord(bits: Int): Column
    def toCoord: Column = coord(SpaceCurve.BitsPerDim)
    /** This dimension refitted to also span `values`, the column's sampled
      * values from the rows about to be written. */
    def widen(values: Seq[Any]): CoordSpec = this
  }
  /** Order-preserving fitted string window over the observed [lo, hi];
    * `None` = the identity window (every string, no common prefix). */
  final case class StrCoord(column: String, range: Option[(String, String)]) extends CoordSpec {
    private val enc = range.fold(StrEnc.identity) { case (lo, hi) => StrEnc.fromRange(lo, hi) }
    def coord(bits: Int): Column =
      ofExpr(StringPrefixBits(toExpr(col(column)), enc.skip, enc.pmin, enc.pmax, bits))
    override def widen(values: Seq[Any]): CoordSpec = range.fold[CoordSpec](this) { case (lo, hi) =>
      val ss = values.collect { case s: String => s } :+ lo :+ hi
      StrCoord(column, Some((ss.min, ss.max)))
    }
  }
  /** Range-normalized numeric (integral or floating manifest stats). */
  final case class NumCoord(column: String, lo: Double, hi: Double) extends CoordSpec {
    def coord(bits: Int): Column = numericCoord(col(column), lo, hi, bits)
    override def widen(values: Seq[Any]): CoordSpec = {
      val ds = values.collect { case n: java.lang.Number => n.doubleValue }.filterNot(_.isNaN) :+ lo :+ hi
      NumCoord(column, ds.min, ds.max)
    }
  }
  /** Hash coordinate — the type-agnostic fallback when no usable range
    * stats exist (boolean/binary column, exotic types): equal values
    * still cluster together, cross-value order is hash order. */
  final case class CatCoord(column: String) extends CoordSpec {
    def coord(bits: Int): Column = pmod(xxhash64(col(column)), lit(1L << bits))
  }

  /** The north rule's token-table cluster columns — the shape every bench
    * and gate token table uses; other `--cluster-by` specs fit the same
    * way, per column. */
  val TokenColumns: Seq[String] = Seq("source", "n_tok", "doc_id")

  /** Encoding parameters fitted from manifest stats — computed driver-side
    * for free before a rewrite; without fitting, domains with a shared
    * prefix ("doc-%012d") or narrow byte ranges (ASCII digits) collapse
    * into a sliver of the coordinate space and the curve degenerates. */
  final case class Fit(coords: Seq[CoordSpec]) {
    /** Refit every dimension to also span a sample of the rows about to be
      * written (each row holds `coords(i)`'s column at position i): keys
      * past the table's fitted range — an upsert appending new ids —
      * otherwise all clamp to one coordinate and pile into one bucket. */
    def widen(sample: Seq[org.apache.spark.sql.Row]): Fit =
      Fit(coords.zipWithIndex.map { case (c, i) => c.widen(sample.map(_.get(i))) })
  }
  object Fit {
    val default: Fit = Fit(Seq(StrCoord("source", None),
      NumCoord("n_tok", 64.0, 2048.0), StrCoord("doc_id", None)))
  }

  /** Fit the curve encodings for the table's cluster columns from per-file
    * stats in the manifest. Works for ANY `--cluster-by` spec: string
    * stats → order-preserving fitted window, numeric stats →
    * range-normalized coordinate, no stats (empty table, unstatted type)
    * → the legacy token-shape defaults for the token columns and a hash
    * coordinate otherwise. */
  def fit(segments: Seq[graft.meta.SegmentMeta],
          columns: Seq[String] = TokenColumns): Fit = {
    import graft.meta.StatVal
    Fit(columns.map { c =>
      val mn = segments.flatMap(_.stats.get(c).flatMap(_.min))
      val mx = segments.flatMap(_.stats.get(c).flatMap(_.max))
      val (smn, smx) = (mn.collect { case StatVal.S(v) => v }, mx.collect { case StatVal.S(v) => v })
      val (lmn, lmx) = (mn.collect { case StatVal.L(v) => v }, mx.collect { case StatVal.L(v) => v })
      val (dmn, dmx) = (mn.collect { case StatVal.D(v) => v }, mx.collect { case StatVal.D(v) => v })
      if (smn.nonEmpty && smx.nonEmpty) StrCoord(c, Some((smn.min, smx.max)))
      else if (lmn.nonEmpty && lmx.nonEmpty) NumCoord(c, lmn.min.toDouble, lmx.max.toDouble)
      else if (dmn.nonEmpty && dmx.nonEmpty) NumCoord(c, dmn.min, dmx.max)
      else if (columns == TokenColumns) c match {
        // legacy token-shape defaults: an empty TOKEN table lays out
        // exactly as before per-column fitting existed
        case "n_tok" => NumCoord(c, 64.0, 2048.0)
        case _ => StrCoord(c, None)
      }
      // custom spec with no stats yet (first write into an empty table):
      // the type-agnostic hash coordinate — a name-keyed guess here
      // (StrCoord on a column that turns out LONG) would crash the first
      // batch's codegen with a UTF8String/Long mismatch
      else CatCoord(c)
    })
  }

  /** Convenience: fit against a table's own cluster spec and live set. */
  def fitFor(table: graft.table.TsTable): Fit =
    fit(table.state.liveSegments,
      table.clusterSpec.map(_.columns).getOrElse(TokenColumns))

  /** The clustering key — the spec'd columns combined by `curve` into one
    * LongType sort column. The first three columns are the curve
    * dimensions; fewer than three pad with a constant, columns beyond the
    * third are dropped from the key (standard Z-order practice — leading
    * dimensions dominate locality). String coordinates are
    * ORDER-PRESERVING (fitted prefix windows, not hashes) so per-file
    * min/max STRING stats line up with curve order and per-dimension
    * scans prune files after clustering. */
  def curveKey(curve: String, f: Fit = Fit.default): Column = {
    val cs = f.coords.take(3).map(_.toCoord).padTo(3, lit(0L))
    ofExpr(CurveKey3(toExpr(cs(0)), toExpr(cs(1)), toExpr(cs(2)), curve))
  }

  /** Bits of the lexico salt: a double's mantissa, the finest the fitted
    * scaling resolves. */
  private val LexicoSaltBits = 53

  /** Range-partition tie-break salt on the FINEST (last) cluster column,
    * so heavy curve-key collisions still spread across range buckets; a
    * suffix of the sort order, it never perturbs key order. zorder and
    * hilbert hash it (a hot source × narrow numeric dim spreads evenly).
    * lexico takes the column again at 53-bit fitted precision instead:
    * ties then split in column order, so a bucket boundary inside a run
    * of equal 21-bit coordinates (~100 consecutive "doc-%012d" ids share
    * one) never leaves two files with interleaved ranges of that column. */
  def saltCol(curve: String, f: Fit = Fit.default): Column =
    if (curve == "lexico") f.coords.last.coord(LexicoSaltBits)
    else pmod(xxhash64(col(f.coords.last.column)), lit(1024L))
}
