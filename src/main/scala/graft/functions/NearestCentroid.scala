package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Nearest-centroid assignment (cosine argmax, lowest index on ties) as a
  * single native expression over a driver-side centroid matrix.
  *
  * The composed form this replaces built one
  * `struct(cos_sim(vec, lit(c_i)), -i)` literal per centroid and took
  * `greatest` over all k — an expression tree (and generated method) that
  * grows linearly with k, hitting Catalyst's plan-size / codegen-method
  * ceilings around k ≈ 100. A 100 TB IVF wants k in the thousands, so the
  * centroid matrix must be DATA, not PLAN: here it rides along as one
  * flattened `double[k*d]` reference object (model state, kilobytes), and
  * the whole assignment is one O(k·d) loop per row inside whole-stage
  * codegen regardless of k.
  *
  * Semantics per centroid mirror the reference cosine kernel
  * (`/root/reference/services/vectorDb.ts:26-52`, same as
  * [[CosineSimilarity]]): dimension mismatch → -1, either zero norm → 0,
  * double accumulation in index order, `dot / (sqrt(na) * sqrt(nb))` in
  * exactly that association — so the winning index is bit-identical to
  * the composed `greatest(struct(cos_sim, -i))` form (asserted in
  * AnnSpec). All centroids share one dimension (k-means invariant), so a
  * mismatched input vector scores -1 everywhere and resolves to cluster
  * 0, exactly as the all-tie did. A null vector element yields NULL (the
  * unified null semantic of the vector kernels; the composed struct form
  * degenerated to cluster 0 there, which silently mis-binned the row).
  */
case class NearestCentroid(child: Expression, cents: Seq[Seq[Double]])
    extends UnaryExpression {

  require(cents.nonEmpty, "at least one centroid")
  require(cents.map(_.size).distinct.size == 1,
    "all centroids must share one dimension")

  private val k = cents.size
  private val d = cents.head.size

  // Flattened row-major matrix + precomputed per-centroid norms. sqrt is
  // IEEE-correctly-rounded, so hoisting sqrt(nb_i) out of the per-row
  // loop changes nothing bit-wise vs computing it inline.
  @transient private lazy val mat: Array[Double] = {
    val m = new Array[Double](k * d)
    var i = 0
    while (i < k) {
      val c = cents(i)
      var j = 0
      while (j < d) { m(i * d + j) = c(j); j += 1 }
      i += 1
    }
    m
  }
  @transient private lazy val norms: Array[Double] = NearestCentroid.norms(mat, k, d)

  override def dataType: DataType = IntegerType

  override def nullable: Boolean = child.nullable || elemNullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_centroid requires array<float|double> input, got ${other.catalogString}")
  }

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  private def elemNullable: Boolean =
    child.dataType.asInstanceOf[ArrayType].containsNull

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    if (a.numElements() != d) return 0 // all sims -1 → tie → lowest index
    val isF = elemIsFloat
    val nn = elemNullable
    val v = new Array[Double](d)
    var j = 0
    while (j < d) {
      if (nn && a.isNullAt(j)) return null
      v(j) = if (isF) a.getFloat(j).toDouble else a.getDouble(j)
      j += 1
    }
    NearestCentroid.nearest(mat, norms, d, v, 0)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val matRef = ctx.addReferenceObj("centMat", mat, "double[]")
    val normsRef = ctx.addReferenceObj("centNorms", norms, "double[]")
    // per-task scratch: copy the row's vector once instead of k×d
    // ArrayData virtual reads
    val scratch = ctx.addMutableState("double[]", "ncScratch",
      v => s"$v = new double[$d];")
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val na = ctx.freshName("na")
      val sqna = ctx.freshName("sqna")
      val best = ctx.freshName("best")
      val bestI = ctx.freshName("bestI")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val jj = ctx.freshName("jj")
      val x = ctx.freshName("x")
      val dot = ctx.freshName("dot")
      val off = ctx.freshName("off")
      val sim = ctx.freshName("sim")
      val getX = if (elemIsFloat) s"(double) $a.getFloat($j)" else s"$a.getDouble($j)"
      // Null-element check only for containsNull schemas; without it the
      // template must not mention ev.isNull — under a non-nullable child
      // nullSafeCodeGen never declares that name (see
      // [[CosineSimilarity.doGenCode]]).
      val nullCheck =
        if (elemNullable) s"if ($a.isNullAt($j)) { ${ev.isNull} = true; break; }"
        else ""
      val finish =
        s"""final double $sqna = java.lang.Math.sqrt($na);
           |double $best = Double.NEGATIVE_INFINITY;
           |int $bestI = 0;
           |for (int $i = 0; $i < $k; $i++) {
           |  double $dot = 0.0;
           |  final int $off = $i * $d;
           |  for (int $jj = 0; $jj < $d; $jj++) {
           |    $dot += $matRef[$off + $jj] * $scratch[$jj];
           |  }
           |  final double $sim = ($na == 0.0 || $normsRef[$i] == 0.0)
           |    ? 0.0 : $dot / ($sqna * $normsRef[$i]);
           |  if ($sim > $best) { $best = $sim; $bestI = $i; }
           |}
           |${ev.value} = $bestI;""".stripMargin
      val guardedFinish =
        if (elemNullable) s"if (!${ev.isNull}) {\n$finish\n}" else finish
      s"""
         |final int $n = $a.numElements();
         |if ($n != $d) {
         |  ${ev.value} = 0;
         |} else {
         |  double $na = 0.0;
         |  for (int $j = 0; $j < $d; $j++) {
         |    $nullCheck
         |    final double $x = $getX;
         |    $scratch[$j] = $x; $na += $x * $x;
         |  }
         |  $guardedFinish
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "nearest_centroid"
}

object NearestCentroid {
  /** Column builder: cluster id of the nearest centroid by cosine. */
  def apply(vec: Column, cents: Seq[Seq[Double]]): Column = {
    val eu = org.apache.spark.sql.graftbridge.ColumnBridge
    eu.column(NearestCentroid(eu.expression(vec), cents))
  }

  /** Per-centroid norms `sqrt(sum x²)` of a row-major `k × d` matrix,
    * accumulated in index order. */
  def norms(mat: Array[Double], k: Int, d: Int): Array[Double] = {
    val ns = new Array[Double](k)
    var i = 0
    while (i < k) {
      var s = 0.0
      var j = 0
      while (j < d) { val x = mat(i * d + j); s += x * x; j += 1 }
      ns(i) = math.sqrt(s)
      i += 1
    }
    ns
  }

  /** Index of the centroid nearest `v[off, off + d)` by cosine, lowest
    * index on ties: the argmax of the expression, over a row-major
    * `mat` of `norms.length` centroids and their [[norms]]. The
    * interpreted expression and the driver-side k-means
    * ([[graft.search.Ann.kmeansCentroids]]) both call it; the generated
    * code in `doGenCode` is the same loop written out. */
  def nearest(mat: Array[Double], norms: Array[Double], d: Int,
              v: Array[Double], off: Int): Int = {
    var na = 0.0
    var j = 0
    while (j < d) { val x = v(off + j); na += x * x; j += 1 }
    val sqna = math.sqrt(na)
    var best = Double.NegativeInfinity
    var bestI = 0
    var i = 0
    while (i < norms.length) {
      var dot = 0.0
      val o = i * d
      var jj = 0
      while (jj < d) { dot += mat(o + jj) * v(off + jj); jj += 1 }
      val sim = if (na == 0.0 || norms(i) == 0.0) 0.0 else dot / (sqna * norms(i))
      if (sim > best) { best = sim; bestI = i }
      i += 1
    }
    bestI
  }
}
