package graft.plans

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

import graft.functions.Gorilla

/** Mutable point buffer: parallel arrays with amortized-doubling append.
  * Only the first `n` slots are live; spare capacity never leaves the JVM
  * (serialize() writes exactly n entries). */
final class GorillaBuf(var ts: Array[Long], var vs: Array[Double], var n: Int)

/** Native Catalyst aggregate producing a Gorilla-compressed BinaryType
  * block per group — the tier-value storage format required by the north
  * rule.
  *
  * A TypedImperativeAggregate (the same execution class Spark uses for
  * collect_list/percentile): the buffer lives as a JVM object inside
  * ObjectHashAggregate; update() reads the two children primitively with
  * no row boxing or tuple encoding. serialize() — called only at
  * partial-output boundaries (e.g. between the salted sub-key pass and the
  * entity merge pass of a two-phase build) — writes exactly `n` live slots
  * (4-byte count + n×8B ts + n×8B values), never the doubled spare
  * capacity, so shuffled partial buffers carry zero padding bytes.
  *
  * merge() is a plain array concat; eval() canonically sorts by
  * (ts, rawBits) before encoding, so the output block is a deterministic
  * function of the point MULTISET — independent of partition order and of
  * salting. That is what makes salted partial blocks merge associatively
  * (SURVEY.md §7 M5/M6).
  *
  * Null/NaN rows are skipped inside update() (na.rm parity — nulls are not
  * representable in a block), so the aggregate sits in the SAME
  * groupBy().agg(...) as the stat-block aggregates without a row filter —
  * one scan, one shuffle, no stat/gorilla join (TierStore).
  */
case class GorillaBlockAgg(
    tsUs: Expression,
    value: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[GorillaBuf] {

  override def children: Seq[Expression] = Seq(tsUs, value)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (tsUs.dataType == LongType && value.dataType == DoubleType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (bigint, double) inputs, got " +
          s"(${tsUs.dataType.simpleString}, ${value.dataType.simpleString})")
  }
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "gorilla_block"

  override def createAggregationBuffer(): GorillaBuf =
    new GorillaBuf(new Array[Long](8), new Array[Double](8), 0)

  override def update(b: GorillaBuf, input: InternalRow): GorillaBuf = {
    val t = tsUs.eval(input)
    val v = value.eval(input)
    if (t == null || v == null) return b
    val d = v.asInstanceOf[Double]
    if (d.isNaN) return b
    if (b.n == b.ts.length) {
      b.ts = java.util.Arrays.copyOf(b.ts, b.n * 2)
      b.vs = java.util.Arrays.copyOf(b.vs, b.n * 2)
    }
    b.ts(b.n) = t.asInstanceOf[Long]
    b.vs(b.n) = d
    b.n += 1
    b
  }

  override def merge(b: GorillaBuf, o: GorillaBuf): GorillaBuf = {
    val ts = new Array[Long](b.n + o.n)
    val vs = new Array[Double](b.n + o.n)
    System.arraycopy(b.ts, 0, ts, 0, b.n)
    System.arraycopy(o.ts, 0, ts, b.n, o.n)
    System.arraycopy(b.vs, 0, vs, 0, b.n)
    System.arraycopy(o.vs, 0, vs, b.n, o.n)
    new GorillaBuf(ts, vs, ts.length)
  }

  override def eval(b: GorillaBuf): Any = {
    val idx = (0 until b.n).sortBy(i => (b.ts(i), java.lang.Double.doubleToRawLongBits(b.vs(i))))
    val ts = new Array[Long](b.n)
    val vs = new Array[Double](b.n)
    var k = 0
    idx.foreach { i => ts(k) = b.ts(i); vs(k) = b.vs(i); k += 1 }
    Gorilla.encode(ts, vs, b.n)
  }

  override def serialize(b: GorillaBuf): Array[Byte] = {
    val buf = ByteBuffer.allocate(4 + 16 * b.n).order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(b.n)
    var i = 0
    while (i < b.n) { buf.putLong(b.ts(i)); i += 1 }
    i = 0
    while (i < b.n) { buf.putDouble(b.vs(i)); i += 1 }
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): GorillaBuf = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val n = buf.getInt()
    val ts = new Array[Long](n)
    val vs = new Array[Double](n)
    var i = 0
    while (i < n) { ts(i) = buf.getLong(); i += 1 }
    i = 0
    while (i < n) { vs(i) = buf.getDouble(); i += 1 }
    new GorillaBuf(ts, vs, n)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): GorillaBlockAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): GorillaBlockAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): GorillaBlockAgg =
    copy(tsUs = newChildren(0), value = newChildren(1))
}

object GorillaBlockAgg {
  /** Column-level aggregate: gorilla block of (tsUs, value). Inputs are
    * coerced to (bigint, double) here, at Column level. Null/NaN input
    * rows are skipped inside the aggregate, so no pre-filter is needed and
    * it fuses with stat-block aggregates in one groupBy().agg(...) (one
    * scan, one shuffle — TierStore). */
  def gorillaBlock(tsUs: Column, value: Column): Column =
    Bridge.column(
      GorillaBlockAgg(
        Bridge.expression(tsUs.cast("long")),
        Bridge.expression(value.cast("double"))).toAggregateExpression())
}
