package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

import graft.functions.Gorilla

/** Native Catalyst Generator: explode a Gorilla block into
  * (ts_us bigint, v double) rows — the reference's UDTF shape
  * (/root/reference/scripts/functions/sri.R:27-54 seq+unnest analog) for
  * compressed tier replay.
  *
  * Why a Generator instead of a decode UDF + explode: a UDF would convert
  * Array[Byte] to external Scala, materialize a full sequence of points,
  * convert every element back to Catalyst, THEN explode; this Generator
  * decodes once and streams InternalRows directly — no external
  * conversion, no intermediate array-of-structs allocation. It is the one
  * way to read tier values back (also as SQL `gorilla_explode`).
  * CodegenFallback is fine here: generators sit at the decode EDGE, never
  * inside the hot rollup path (SURVEY.md §4 custom-work inventory). */
case class GorillaExplode(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType = StructType(Seq(
    StructField("ts_us", LongType, nullable = false),
    StructField("v", DoubleType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"gorilla_explode expects binary, got $other")
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val bytes = child.eval(input).asInstanceOf[Array[Byte]]
    if (bytes == null || bytes.isEmpty) Iterator.empty
    else {
      val (ts, vs) = Gorilla.decode(bytes)
      Iterator.tabulate(ts.length)(i => InternalRow(ts(i), vs(i)))
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GorillaExplode {
  /** Column surface: df.select($"conv_id", gorillaExplode($"block")). */
  def gorillaExplode(block: Column): Column =
    Bridge.column(GorillaExplode(Bridge.expression(block)))
}
