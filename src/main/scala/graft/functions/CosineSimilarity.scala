package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fused cosine-similarity kernel as a native Catalyst expression.
  *
  * Replicates `/root/reference/services/vectorDb.ts:26-52` bit-for-bit
  * against [[graft.vector.VectorOps.cosine]] (the builtin-HOF form):
  * dimension mismatch → -1.0, zero norm → 0.0, double accumulation,
  * `dot / (sqrt(na) * sqrt(nb))` in exactly that association. The HOF
  * form needs three array traversals plus `zip_with` allocations per
  * row; this is one allocation-free loop inside whole-stage codegen —
  * the only place the reference's hand-fused kernel (`vectorDb.ts:38-42`)
  * genuinely beats composed builtins (SURVEY §4).
  *
  * Accepts `array<float>` and `array<double>` children in any mix, so
  * parquet float vectors join featurizer double vectors without a
  * per-row cast allocation. Null *arrays* propagate null via
  * BinaryExpression's default; a null ELEMENT yields NULL too (a
  * partial vector has no meaningful similarity; failing whole beats
  * reading nulls as 0) — the single null semantic shared by all three
  * vector kernels ([[DotProduct]], [[L2Normalize]]). The per-element
  * null check is emitted only for `containsNull` schemas, so the
  * common non-nullable path keeps the tight loop.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullable: Boolean =
    left.nullable || right.nullable || elemNullable(left) || elemNullable(right)

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cos_sim requires array<float|double> inputs, got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  private def elemNullable(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].containsNull

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) -1.0
    else if ((elemNullable(left) && hasNull(a)) || (elemNullable(right) && hasNull(b))) null
    else CosineSimilarity.packed(doubles(a, elemIsFloat(left)), 0, a.numElements(),
      doubles(b, elemIsFloat(right)))
  }

  private def hasNull(a: ArrayData): Boolean = {
    var i = 0
    while (i < a.numElements()) { if (a.isNullAt(i)) return true; i += 1 }
    false
  }

  private def doubles(a: ArrayData, isFloat: Boolean): Array[Double] =
    if (isFloat) a.toFloatArray().map(_.toDouble) else a.toDoubleArray()

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val getA = if (elemIsFloat(left)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getB = if (elemIsFloat(right)) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      // null-element checks emitted only for containsNull schemas (the
      // nullable override guarantees ev.isNull is a real variable then).
      // With NO containsNull side, the template must not mention
      // ev.isNull at all: if the children are also non-nullable,
      // nullSafeCodeGen's non-nullable branch rebinds isNull to a
      // FalseLiteral AFTER this template is built and never declares
      // the captured variable name — referencing it is a whole-stage
      // compile failure ("… is not an rvalue") with silent interpreted
      // fallback.
      val anyElemNullable = elemNullable(left) || elemNullable(right)
      val nullCheck = (
        (if (elemNullable(left)) Seq(s"$a.isNullAt($i)") else Nil) ++
        (if (elemNullable(right)) Seq(s"$b.isNullAt($i)") else Nil)) match {
        case Nil => ""
        case cs => s"if (${cs.mkString(" || ")}) { ${ev.isNull} = true; break; }"
      }
      val finish =
        s"""${ev.value} = ($na == 0.0 || $nb == 0.0)
           |  ? 0.0 : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));""".stripMargin
      val guardedFinish =
        if (anyElemNullable) s"if (!${ev.isNull}) {\n$finish\n}" else finish
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.value} = -1.0;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    final double $x = $getA;
         |    final double $y = $getB;
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  $guardedFinish
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cos_sim"
}

object CosineSimilarity {

  /** The per-row kernel over packed doubles: `a[off, off + n)` against
    * all of `b` — dimension mismatch → -1.0, a zero norm → 0.0, one
    * index-order double accumulation, `dot / (sqrt(na) * sqrt(nb))`.
    * The interpreted path and the driver-resident serving snapshot
    * ([[graft.store.ServingSnapshot]]) both call it; the generated code
    * in `doGenCode` is the same loop written out. */
  def packed(a: Array[Double], off: Int, n: Int, b: Array[Double]): Double =
    if (n != b.length) -1.0
    else {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val x = a(off + i)
        val y = b(i)
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0
      else dot / (java.lang.Math.sqrt(na) * java.lang.Math.sqrt(nb))
    }

  /** Column builder: `cos_sim(a, b)`. */
  def apply(a: Column, b: Column): Column = {
    val eu = org.apache.spark.sql.graftbridge.ColumnBridge
    eu.column(CosineSimilarity(eu.expression(a), eu.expression(b)))
  }
}
