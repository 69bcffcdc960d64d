package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Cosine similarity over two `ArrayType(FloatType)` columns as a native
  * Catalyst expression with whole-stage codegen.
  *
  * Semantically identical to the HOF formulation in
  * [[graft.functions.VectorFunctions.cosineSim]] — the same sequential
  * left-fold over double-widened floats, so results are bit-identical to
  * the oracle-verified path — but the generated code is a primitive
  * float-array loop: no per-element lambda dispatch, no boxed Long/Double
  * allocation, no intermediate product arrays. This is the reference's
  * `vector_distance_cos` (X1) promoted to the codegen tier the SURVEY
  * plans (§4.2) for the brute-force scan hot path.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  // nullable regardless of children: mismatched vector lengths yield
  // NULL (matching the zip_with HOF path, where null-padding poisons the
  // aggregate) — a truncated prefix-cosine would silently rank corrupt rows
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"cosine_similarity needs two array<float> args, got " +
            s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData].toFloatArray()
    val y = b.asInstanceOf[ArrayData].toFloatArray()
    if (x.length != y.length) null else CosineSimilarity.cosine(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
        if ($a.numElements() != $b.numElements()) {
          ${ev.isNull} = true;
        } else {
          int $n = $a.numElements();
          double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            double $xi = (double) $a.getFloat($i);
            double $yi = (double) $b.getFloat($i);
            $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
          }
          ${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
        }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** The cosine of two equal-length vectors: the loop the generated code
    * runs, and the one driver-side scoring shares, so both give the
    * same bits. NaN when either vector is all zeros. */
  def cosine(x: Array[Float], y: Array[Float]): Double = {
    val n = x.length
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x(i).toDouble; val yi = y(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  /** Column API entry. */
  def apply(a: Column, b: Column): Column =
    GraftBridge.column(CosineSimilarity(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  /** SQL registration: `SELECT cosine_similarity(a, b)`. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_similarity", exprs => CosineSimilarity(exprs.head, exprs(1)),
      "scala_udf")
}
