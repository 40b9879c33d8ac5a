package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: cosine similarity of two float/double array
  * columns, with whole-stage codegen (`doGenCode`) — the hot-path form of
  * the composed zip_with/aggregate cosine for 10^9-vector similarity
  * scans.
  *
  * Why an Expression instead of the zip_with/aggregate composition: the
  * built-in higher-order functions allocate a lambda frame per element and
  * box Float→Double per element; this expression compiles to a tight
  * primitive loop over the two ArrayData buffers (one pass, three
  * accumulators, no allocation). Same preference order the build contract
  * gives: compose built-ins where semantics allow (the composed form
  * remains the reference implementation, as the test oracle
  * `Oracles.cosine`), drop to a custom Expression where the scan is hot.
  *
  * Semantics match the composed form exactly: null if either side is null,
  * 0.0 if either norm is zero, lengths validated equal at runtime.
  */
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _) | ArrayType(DoubleType, _),
          ArrayType(FloatType, _) | ArrayType(DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects two array<float>/array<double> args, got ${left.dataType} and ${right.dataType}")
  }

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    require(a.numElements() == b.numElements(),
      s"cosine_sim: length mismatch ${a.numElements()} vs ${b.numElements()}")
    val af = elemIsFloat(left); val bf = elemIsFloat(right)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) {
      val x = if (af) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bf) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na > 0.0 && nb > 0.0) dot / (math.sqrt(na) * math.sqrt(nb)) else 0.0
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val bGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  throw new IllegalArgumentException("cosine_sim: length mismatch " + $n + " vs " + $b.numElements());
         |}
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $x = (double) $a.$aGet($i);
         |  final double $y = (double) $b.$bGet($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = ($na > 0.0 && $nb > 0.0) ? $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb)) : 0.0;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  /** Column-API surface. */
  def cosineSim(a: Column, b: Column): Column =
    Bridge.column(CosineSim(Bridge.expression(a), Bridge.expression(b)))

  /** Register `cosine_sim` for SQL use on a session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_sim", exprs => CosineSim(exprs.head, exprs(1)), "built-in")
}
