package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** MinHash signature as a single-pass native expression.
  *
  * Computes, for each character `shingleK`-shingle s of the input, the
  * portable 32-bit hashes h1 = first4bytes(md5(s)) and
  * h2 = first4bytes(md5("x|" + s)), and folds the running minima of the
  * Kirsch-Mitzenmacher family h_j = (h1 + j·h2) mod 2^32 for
  * j = 0..numHashes-1 — byte-for-byte the same values as the Column
  * pipeline `array_min(zip_with(transform(shingles...)))` it replaces
  * (asserted in tests), but with one reused MessageDigest, zero
  * intermediate arrays, and no per-element expression dispatch. ~10x
  * less work per row on the dedup hot path.
  *
  * CodegenFallback is fine here: the loop body is the expensive part and
  * it is already a tight JVM loop; splitting whole-stage codegen around
  * it costs one virtual call per ROW, not per shingle.
  */
case class MinHashSignature(child: Expression, shingleK: Int, numHashes: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val md = java.security.MessageDigest.getInstance("MD5")
    val prefix = "x|".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    // shingle by Unicode CODE POINTS, not UTF-16 code units: Spark's
    // substr/length and DuckDB count code points, and splitting a
    // surrogate pair would also corrupt the hashed bytes
    val cps = text.codePoints().toArray
    val n = cps.length
    val last = if (n >= shingleK) n - shingleK else 0
    var i = 0
    while (i <= last) {
      val shingle =
        if (n >= shingleK) new String(cps, i, shingleK) else text
      val bytes = shingle.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      md.reset()
      val h1 = firstFourUnsigned(md.digest(bytes))
      md.reset()
      md.update(prefix)
      val h2 = firstFourUnsigned(md.digest(bytes))
      var j = 0
      while (j < numHashes) {
        val h = (h1 + j * h2) & 0xffffffffL
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  private def firstFourUnsigned(digest: Array[Byte]): Long =
    ((digest(0) & 0xffL) << 24) | ((digest(1) & 0xffL) << 16) |
      ((digest(2) & 0xffL) << 8) | (digest(3) & 0xffL)

  override protected def withNewChildInternal(c: Expression): MinHashSignature =
    copy(child = c)
}

object MinHashSignature {
  def apply(text: Column, shingleK: Int, numHashes: Int): Column =
    GraftBridge.column(MinHashSignature(
      GraftBridge.expression(text), shingleK, numHashes))
}
