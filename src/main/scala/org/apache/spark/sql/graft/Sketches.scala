package org.apache.spark.sql.graft

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** What both register sketches share: one LONG input, a non-null struct
  * result, and a fixed-width `Array[Long]` buffer serialised as its longs. */
trait LongRegsAggregate extends TypedImperativeAggregate[Array[Long]]
    with ExpectsInputTypes with UnaryLike[Expression] {
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def nullable: Boolean = false

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.length * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }
}

/** Native mergeable HyperLogLog register aggregate — the custom Catalyst
  * AGGREGATE counterpart to the scalar expressions in [[TextHashes]].
  *
  * Input: the 56-bit md5-prefix hash q126 derives per element. State: the
  * 64 register maxima (rank = 51 − bitlen(h div 64), register = h mod
  * 64) — exactly the numbers q126's explode+groupBy(register) pipeline
  * computes, so the SAME DuckDB oracle verifies both forms. Output:
  * struct(n_regs, s_e) with s_e = Σ 2^(51−m) over hit registers plus 2^51
  * per empty register — the integer-ized harmonic sum the shared-verbatim
  * estimate expression consumes (a raw Σ2^−m double fold would be
  * summation-order-dependent; see q126's Scaladoc).
  *
  * Scale design: this is the form that actually ships at 100 TB — each
  * partition folds its rows into a 512-byte buffer, partial buffers merge
  * by elementwise max, and ONE row per group crosses the shuffle. The SQL
  * form shuffles |groups|·64 register rows and needs two aggregations;
  * the aggregate needs one ObjectHashAggregate. Deterministic: max is
  * order-independent, so partial aggregation and AQE re-partitioning
  * cannot change the result.
  */
case class HllRegs(child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends LongRegsAggregate {

  override def dataType: DataType = StructType(Seq(
    StructField("n_regs", LongType, nullable = false),
    StructField("s_e", LongType, nullable = false)))
  override def prettyName: String = "hll_regs"

  override def createAggregationBuffer(): Array[Long] = Array.fill(64)(-1L)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      val j = (h % 64).toInt
      val w = h / 64
      val rank = if (w == 0) 51L else 51L - (64 - java.lang.Long.numberOfLeadingZeros(w))
      if (rank > buf(j)) buf(j) = rank
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < 64) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = {
    var nRegs = 0L
    var sHit = 0L
    var i = 0
    while (i < 64) {
      if (buf(i) >= 0) { nRegs += 1; sHit += 1L << (51 - buf(i)).toInt }
      i += 1
    }
    val sE = sHit + (64 - nRegs) * 2251799813685248L // empty regs at 2^51
    new GenericInternalRow(Array[Any](nRegs, sE))
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): HllRegs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllRegs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HllRegs =
    copy(child = newChild)
}

/** Native mergeable quantile-histogram aggregate — the quantile member of
  * the sketch family (HllRegs: distinct counts; q117's CMS: frequencies).
  *
  * Input: a non-negative BIGINT measure (negatives clamp to bucket 0).
  * State: 248 bucket counts over a sub-logarithmic layout — values 0..7
  * exact, then 4 sub-buckets per octave (bucket = 8 + 4·(bitlen−4) + the
  * two bits after the leading 1), giving ≤ 25% relative bucket width
  * (width/lower = 1/q for the mantissa prefix q in 4..7).
  * Output: struct(n, p50_est, p90_est, p99_est) where each estimate is the
  * LOWER BOUND of the bucket whose cumulative count first reaches
  * ceil(p·n) — pure integer arithmetic, so the estimate is deterministic
  * and a plain SQL pipeline (bucket expression + cumulative window) can
  * reproduce it bit-for-bit; that is exactly what the DuckDB oracle does.
  *
  * Scale design: each partition folds its rows into a ~2 KB buffer,
  * partials merge by elementwise ADD (commutative — AQE re-partitioning
  * cannot change the result), ONE row per group crosses the shuffle. The
  * SQL form shuffles |groups|·248 bucket rows and needs a second window
  * pass; at 100 TB per-key quantiles (latency dashboards, length
  * distributions per source) this is the shippable shape.
  */
case class HistRegs(child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends LongRegsAggregate {

  import HistRegs.Buckets

  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("p50_est", LongType, nullable = false),
    StructField("p90_est", LongType, nullable = false),
    StructField("p99_est", LongType, nullable = false)))
  override def prettyName: String = "hist_regs"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](Buckets)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) buf(HistRegs.bucketOf(v.asInstanceOf[Long])) += 1L
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < Buckets) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = {
    val (n, p50, p90, p99) = HistRegs.quantiles(buf)
    new GenericInternalRow(Array[Any](n, p50, p90, p99))
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): HistRegs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HistRegs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HistRegs =
    copy(child = newChild)
}

object HistRegs {
  /** 8 exact small-value buckets + 4 sub-buckets per octave for bitlen
    * 4..63: 8 + 4·60 = 248. */
  val Buckets = 248

  def bucketOf(v0: Long): Int = {
    val v = if (v0 < 0L) 0L else v0
    if (v < 8L) v.toInt
    else {
      val b = 64 - java.lang.Long.numberOfLeadingZeros(v) // bit length, >= 4
      val sub = ((v >>> (b - 3)) - 4L).toInt              // two bits after the lead
      8 + 4 * (b - 4) + sub
    }
  }

  /** Smallest value mapping to bucket `idx` — the estimate the oracle's
    * SQL form reconstructs with the identical integer expression. */
  def lowerOf(idx: Int): Long =
    if (idx < 8) idx.toLong
    else {
      val b = 4 + (idx - 8) / 4
      val sub = (idx - 8) % 4
      (4L + sub) << (b - 3)
    }

  /** (n, p50_est, p90_est, p99_est) from a bucket-count array — shared by
    * the batch aggregate's eval and the streaming QuantileProcessor so
    * both surfaces report the identical estimate for identical counts. */
  def quantiles(buf: Array[Long]): (Long, Long, Long, Long) = {
    var n = 0L
    var i = 0
    while (i < buf.length) { n += buf(i); i += 1 }
    if (n == 0L) return (0L, 0L, 0L, 0L)
    val ks = Array((n + 1) / 2, (9 * n + 9) / 10, (99 * n + 99) / 100)
    val est = new Array[Long](3)
    var cum = 0L
    var k = 0
    i = 0
    while (i < buf.length && k < 3) {
      cum += buf(i)
      while (k < 3 && cum >= ks(k)) { est(k) = lowerOf(i); k += 1 }
      i += 1
    }
    (n, est(0), est(1), est(2))
  }
}

object Sketches {
  /** Column-API entry point: `df.groupBy(...).agg(hll_regs($"h"))`. */
  def hll_regs(h: Column): Column =
    ExpressionUtils.column(
      HllRegs(ExpressionUtils.expression(h)).toAggregateExpression())

  /** Column-API entry point: `df.groupBy(...).agg(hist_regs($"v"))`. */
  def hist_regs(v: Column): Column =
    ExpressionUtils.column(
      HistRegs(ExpressionUtils.expression(v)).toAggregateExpression())
}
