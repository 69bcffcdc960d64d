package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for duplicated-span removal over a unit sequence — the
  * core of [[graft.operators.TextAnalysis.substringDedup]] (word units)
  * and [[graft.operators.TextAnalysis.spanDedup]] (caller units).
  *
  * Value contract (pinned against the column formulation kept in the
  * test-scope `ParityReferences.dedupUnitWindowsColumns`):
  *
  *  - A window is k consecutive units starting at 1-based position p.
  *    Its key is the md5 digest of the window's NON-NULL units joined by
  *    `keySep` — exactly the bytes `md5(concat_ws(keySep, slice(t, p,
  *    k)))` hex-encodes — carried as two longs, `hi` = digest bytes 0-7
  *    and `lo` = bytes 8-15, big-endian. Grouping and joining on the pair
  *    is grouping on the hex string: same 16 bytes, no added collisions.
  *  - A document's hit positions fold, ascending, into disjoint [s, e)
  *    spans: a hit at p opens [p, p+k) or extends the open span when
  *    p <= its end (overlap OR adjacency).
  *  - `n_dup` = Σ(e − s), `n_spans` = the span count, `cleaned_text` =
  *    the units outside every span, NULL units skipped, joined by
  *    `outSep` (`concat_ws`). A NULL unit array scores (0, 0, "").
  *
  * Per-row state is thread-local scratch (md5 digest, unit views, hit
  * list) reused across rows, and the generated code calls one static
  * kernel per row, so whole-stage codegen stays alive. */
object DupSpans {

  private final class Scratch {
    val md5: java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
    val digest = new Array[Byte](16)
    var units = new Array[UTF8String](64)
    var hits = new Array[Long](64)
    var nHits = 0
    var copy = new Array[Byte](64)

    def load(t: ArrayData): Int = {
      val n = t.numElements()
      if (units.length < n) units = new Array[UTF8String](n)
      var i = 0
      while (i < n) {
        units(i) = if (t.isNullAt(i)) null else t.getUTF8String(i)
        i += 1
      }
      nHits = 0
      n
    }

    def hit(p: Long): Unit = {
      if (nHits == hits.length) hits = java.util.Arrays.copyOf(hits, nHits * 2)
      hits(nHits) = p
      nHits += 1
    }

    def update(u: UTF8String): Unit = u.getBaseObject match {
      case b: Array[Byte] =>
        md5.update(b, (u.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, u.numBytes())
      case base =>
        val n = u.numBytes()
        if (copy.length < n) copy = new Array[Byte](n)
        Platform.copyMemory(base, u.getBaseOffset, copy, Platform.BYTE_ARRAY_OFFSET, n)
        md5.update(copy, 0, n)
    }

    /** md5 of the window of `k` loaded units starting at index `i`. */
    def window(i: Int, k: Int, sep: Array[Byte]): Unit = {
      md5.reset()
      var first = true
      var j = i
      while (j < i + k) {
        val u = units(j)
        if (u != null) {
          if (!first) md5.update(sep)
          update(u)
          first = false
        }
        j += 1
      }
      md5.digest(digest, 0, 16)
    }

    def hi: Long = longAt(0)
    def lo: Long = longAt(8)

    private def longAt(off: Int): Long = {
      var v = 0L
      var j = off
      while (j < off + 8) { v = (v << 8) | (digest(j) & 0xFFL); j += 1 }
      v
    }
  }

  private val scratch = new ThreadLocal[Scratch] {
    override def initialValue(): Scratch = new Scratch
  }

  private[plans] def sepBytes(sep: String): Array[Byte] =
    sep.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  val digestType: ArrayType = ArrayType(StructType(Seq(
    StructField("hi", LongType, nullable = false),
    StructField("lo", LongType, nullable = false))), containsNull = false)

  val scoreType: StructType = StructType(Seq(
    StructField("n_dup", LongType, nullable = false),
    StructField("n_spans", LongType, nullable = false),
    StructField("cleaned_text", StringType, nullable = false)))

  /** Per-row kernel for [[WindowDigests]]: each window's (hi, lo) digest,
    * in position order; empty when the row has fewer than k units. */
  def digests(t: ArrayData, k: Int, keySep: Array[Byte]): ArrayData = {
    val s = scratch.get()
    val n = s.load(t)
    val out = new Array[Any](math.max(n - k + 1, 0))
    var i = 0
    while (i < out.length) {
      s.window(i, k, keySep)
      out(i) = InternalRow(s.hi, s.lo)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Per-row kernel for [[DupSpanScore]]: hits are the windows whose
    * digest is in `hot`, less (keepFirst) the window that is its key's
    * canonical first occurrence. */
  def score(t: ArrayData, id: Any, hot: HotDigests, k: Int,
            keySep: Array[Byte], outSep: UTF8String): InternalRow = {
    if (t == null) return empty
    val s = scratch.get()
    val n = s.load(t)
    var i = 0
    while (i <= n - k) {
      s.window(i, k, keySep)
      val e = hot.find(s.hi, s.lo)
      if (e >= 0 && !hot.isCanonical(e, id, i + 1L)) s.hit(i + 1L)
      i += 1
    }
    fold(s, n, k, outSep)
  }

  /** Per-row kernel for [[DupSpanFold]]: the hit positions arrive from a
    * `collect_list`, in no particular order. */
  def foldPositions(t: ArrayData, ps: ArrayData, k: Int,
                    outSep: UTF8String): InternalRow = {
    if (t == null) return empty
    val s = scratch.get()
    val n = s.load(t)
    if (ps != null) {
      var i = 0
      while (i < ps.numElements()) { s.hit(ps.getLong(i)); i += 1 }
      java.util.Arrays.sort(s.hits, 0, s.nHits)
    }
    fold(s, n, k, outSep)
  }

  private def empty: InternalRow = InternalRow(0L, 0L, UTF8String.EMPTY_UTF8)

  /** Fold the ascending hits into spans and emit (n_dup, n_spans,
    * cleaned_text) over the `n` loaded units. */
  private def fold(s: Scratch, n: Int, k: Int, outSep: UTF8String): InternalRow = {
    val kept = new java.util.ArrayList[UTF8String](n)
    var nDup = 0L
    var nSpans = 0L
    var next = 1L // first unit (1-based) not yet emitted or covered
    var cs = -1L
    var ce = -1L
    def close(): Unit = {
      while (next < cs) { kept.add(s.units((next - 1).toInt)); next += 1 }
      nDup += ce - cs
      nSpans += 1
      next = ce
    }
    var i = 0
    while (i < s.nHits) {
      val p = s.hits(i)
      if (cs == -1L) { cs = p; ce = p + k }
      else if (p <= ce) ce = p + k
      else { close(); cs = p; ce = p + k }
      i += 1
    }
    if (cs != -1L) close()
    while (next <= n) { kept.add(s.units((next - 1).toInt)); next += 1 }
    InternalRow(nDup, nSpans,
      UTF8String.concatWs(outSep, kept.toArray(new Array[UTF8String](kept.size())): _*))
  }
}

/** The corpus's hot windows as an open-addressing table over the 128-bit
  * digest pair. With keepFirst, each entry also carries its key's
  * canonical first occurrence: the lexicographically least (id, pos),
  * the id as a Catalyst internal value (ids are atomic: integral or
  * string). */
final class HotDigests(val hi: Array[Long], val lo: Array[Long],
                       val canonId: Array[Any], val canonPos: Array[Long])
    extends Serializable {

  require(hi.length == lo.length, "hi and lo must align")

  val keepFirst: Boolean = canonId != null

  @transient private lazy val slots: Array[Int] = {
    var cap = 2
    while (cap < hi.length * 2) cap <<= 1
    val t = new Array[Int](cap)
    var e = 0
    while (e < hi.length) {
      var j = lo(e).toInt & (cap - 1)
      while (t(j) != 0) j = (j + 1) & (cap - 1)
      t(j) = e + 1
      e += 1
    }
    t
  }

  /** Entry index of the digest, or -1. md5 bits are uniform, so the low
    * word indexes the table directly. */
  def find(h: Long, l: Long): Int = {
    val t = slots
    val mask = t.length - 1
    var j = l.toInt & mask
    while (t(j) != 0) {
      val e = t(j) - 1
      if (lo(e) == l && hi(e) == h) return e
      j = (j + 1) & mask
    }
    -1
  }

  def isCanonical(e: Int, id: Any, pos: Long): Boolean =
    keepFirst && canonPos(e) == pos && canonId(e) == id

  override def toString: String =
    s"HotDigests(${hi.length} keys${if (keepFirst) ", keepFirst" else ""})"
}

/** `array<struct<hi, lo>>`: the md5 digest of every k-unit window of a
  * unit array, in position order (see [[DupSpans]]). NULL in, NULL out. */
case class WindowDigests(child: Expression, k: Int, keySep: String)
    extends UnaryExpression {

  require(k >= 1, s"window length must be positive, got $k")

  override def dataType: DataType = DupSpans.digestType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"window_digests needs array<string>, got ${other.catalogString}")
    }

  @transient private lazy val sep = DupSpans.sepBytes(keySep)

  override def nullSafeEval(input: Any): Any =
    DupSpans.digests(input.asInstanceOf[ArrayData], k, sep)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sepRef = ctx.addReferenceObj("keySep", sep, "byte[]")
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.plans.DupSpans.digests($c, $k, $sepRef);
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): WindowDigests =
    copy(child = newChild)
}

/** `struct(n_dup, n_spans, cleaned_text)` of one document's unit array
  * scored against the collected hot windows — the map-only default path
  * of the dedup core. `id` is the row's id, read only for the keepFirst
  * exemption. Ids are unique per row and non-NULL: each row is scored
  * on its own, where the join formulation grouped hits by id. */
case class DupSpanScore(left: Expression, right: Expression, hot: HotDigests,
                        k: Int, keySep: String, outSep: String)
    extends BinaryExpression {

  override def dataType: DataType = DupSpans.scoreType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    left.dataType match {
      case ArrayType(StringType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"dup_span_score needs array<string>, got ${other.catalogString}")
    }

  @transient private lazy val sep = DupSpans.sepBytes(keySep)
  @transient private lazy val out = UTF8String.fromString(outSep)

  override def eval(input: InternalRow): Any =
    DupSpans.score(left.eval(input).asInstanceOf[ArrayData],
      if (hot.keepFirst) right.eval(input) else null, hot, k, sep, out)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = left.genCode(ctx)
    val hotRef = ctx.addReferenceObj("hot", hot, classOf[HotDigests].getName)
    val sepRef = ctx.addReferenceObj("keySep", sep, "byte[]")
    val outRef = ctx.addReferenceObj("outSep", out, classOf[UTF8String].getName)
    // the id is read only for the keepFirst exemption
    val (idCode, boxed) =
      if (!hot.keepFirst) ("", "null")
      else {
        val id = right.genCode(ctx)
        val v = if (CodeGenerator.isPrimitiveType(right.dataType))
          s"${CodeGenerator.boxedType(right.dataType)}.valueOf(${id.value})"
        else s"(Object) ${id.value}"
        (id.code.toString, s"(${id.isNull} ? null : $v)")
      }
    ev.copy(code = code"""
      ${t.code}
      $idCode
      InternalRow ${ev.value} = graft.plans.DupSpans.score(
        ${t.isNull} ? null : ${t.value}, $boxed, $hotRef, $k, $sepRef, $outRef);
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): DupSpanScore =
    copy(left = newLeft, right = newRight)
}

/** `struct(n_dup, n_spans, cleaned_text)` of one document's unit array
  * from its hit positions (`array<bigint>`, any order, NULL = none) —
  * the fold half of the shuffle-join path (`broadcastHot = false`). */
case class DupSpanFold(left: Expression, right: Expression, k: Int, outSep: String)
    extends BinaryExpression {

  override def dataType: DataType = DupSpans.scoreType
  override def nullable: Boolean = false

  @transient private lazy val out = UTF8String.fromString(outSep)

  override def eval(input: InternalRow): Any =
    DupSpans.foldPositions(left.eval(input).asInstanceOf[ArrayData],
      right.eval(input).asInstanceOf[ArrayData], k, out)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = left.genCode(ctx)
    val ps = right.genCode(ctx)
    val outRef = ctx.addReferenceObj("outSep", out, classOf[UTF8String].getName)
    ev.copy(code = code"""
      ${t.code}
      ${ps.code}
      InternalRow ${ev.value} = graft.plans.DupSpans.foldPositions(
        ${t.isNull} ? null : ${t.value}, ${ps.isNull} ? null : ${ps.value}, $k, $outRef);
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): DupSpanFold =
    copy(left = newLeft, right = newRight)
}

object WindowDigests {
  def apply(units: Column, k: Int, keySep: String): Column =
    GraftBridge.column(WindowDigests(GraftBridge.expression(units), k, keySep))
}

object DupSpanScore {
  def apply(units: Column, id: Column, hot: HotDigests, k: Int,
            keySep: String, outSep: String): Column =
    GraftBridge.column(DupSpanScore(GraftBridge.expression(units),
      GraftBridge.expression(id), hot, k, keySep, outSep))
}

object DupSpanFold {
  def apply(units: Column, positions: Column, k: Int, outSep: String): Column =
    GraftBridge.column(DupSpanFold(GraftBridge.expression(units),
      GraftBridge.expression(positions), k, outSep))
}
