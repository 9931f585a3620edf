package graft.functions.expressions

import java.text.Normalizer

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode normalization (NFC/NFD/NFKC/NFKD) as a native Catalyst
  * expression — the canonicalization every text pipeline runs before
  * hashing, deduplication or tokenization (the same page arrives with
  * `é` as one precomposed codepoint from one crawler and as
  * `e` + COMBINING ACUTE from another; unnormalized, exact dedup and
  * every downstream fingerprint treat them as different documents).
  *
  * Spark has no built-in for this, and a Scala UDF would box every row
  * out of Tungsten. (Custom-operator ladder step (b): a scalar
  * `Expression` with `doGenCode`, SURVEY §4.2 — the VecDot pattern.)
  * Codegen and interpreted eval share one static body, so the paths
  * cannot drift (spec pins bit-equality anyway).
  *
  * 100 TB shape: a pure per-row map with an ASCII fast path — all four
  * normalization forms are the identity on pure-ASCII text, which is
  * most bytes of a web corpus, and [[UTF8String.isFullAscii]] answers
  * that with one vectorizable scan of the raw buffer, no String
  * allocation. Non-ASCII rows take a second cheap exit through
  * [[Normalizer.isNormalized]] (already-NFC text — most real-world
  * non-ASCII — allocates one String but never a normalized copy).
  */
case class UnicodeNormalize(child: Expression, formName: String)
    extends UnaryExpression {
  require(UnicodeNormalize.FORMS.contains(formName),
    s"unknown Unicode normalization form: $formName")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"unicode_normalize requires a string input, got ${t.sql}")
  }
  override def dataType: DataType = StringType
  override def prettyName: String = "unicode_normalize"

  @transient private lazy val form = Normalizer.Form.valueOf(formName)

  override def nullSafeEval(input: Any): Any =
    UnicodeNormalize.normalize(input.asInstanceOf[UTF8String], form)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      // formName is validated against FORMS above, so the interpolation
      // can only name a real enum constant
      s"""${ev.value} = graft.functions.expressions.UnicodeNormalize.normalize(
         |  $c, java.text.Normalizer.Form.$formName);""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): UnicodeNormalize =
    copy(child = newChild)
}

object UnicodeNormalize {
  val FORMS: Set[String] = Set("NFC", "NFD", "NFKC", "NFKD")

  /** Shared eval/codegen body. Returns the INPUT object (no copy, no
    * String round-trip) whenever normalization would be the identity:
    * pure-ASCII buffers (one raw-byte scan), then already-normalized
    * text (Normalizer's quick-check). Only text that actually changes
    * pays for the normalized copy. */
  def normalize(u: UTF8String, form: Normalizer.Form): UTF8String = {
    if (u.isFullAscii) u
    else {
      val s = u.toString
      if (Normalizer.isNormalized(s, form)) u
      else UTF8String.fromString(Normalizer.normalize(s, form))
    }
  }
}

/** `size(array_intersect(a, b))` for two SORTED arrays of the same
  * element type, `array<string>` or `array<bigint>`, as one codegen'd
  * merge. It is the exact-Jaccard verify kernel of the prefix-dedup family
  * (q65/q68/q96/q138/q139 run it per candidate pair, on token arrays) and
  * the triangle census's closing kernel (q120, on oriented adjacency
  * lists: per oriented edge the triangle count through it is the
  * distinct-common-element count of `adj(a)` and `adj(b)`).
  *
  * `array_intersect` builds a hash set over one side and an output array
  * per row pair, only for `size` to throw the array away. Both sides here
  * are sorted by construction (`array_sort`), so the distinct common-element
  * COUNT is a single allocation-free merge over the two unsafe arrays —
  * on q120 it replaces the materialized wedge stream, the largest relation
  * the wedge-closure shape touches. Equal runs advance past duplicates on
  * both sides, so duplicate elements count once — exactly
  * `array_intersect`'s distinct semantics; null elements (sorted last by
  * `array_sort`) compare equal to each other and above every non-null,
  * also matching.
  *
  * CORRECTNESS CONTRACT: both inputs must be sorted ascending in
  * `array_sort` order — `UTF8String` binary order for strings, nulls LAST
  * (`sort_array`'s default asc puts nulls first and would break the
  * merge). Unsorted input returns an undercount — call sites own the
  * guarantee; SortedIntersectSizeSpec and SortedLongIntersectSizeSpec pin
  * equality with `size(array_intersect)` on randomized sorted arrays with
  * duplicates. The element type selects the merge body, so each call site
  * compiles to a direct call of one monomorphic loop.
  * (Custom-operator ladder step (b), the VecDot pattern; interpreted eval
  * and codegen share one body.)
  */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType}

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) |
           (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure("sorted_intersect_size requires two " +
          s"array<string> or two array<bigint> inputs, got ${l.sql} / ${r.sql}")
    }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_size"

  @transient private lazy val longs = left.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (longs) SortedIntersectSize.mergeLongs(x, y)
    else SortedIntersectSize.mergeStrings(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = " +
      "graft.functions.expressions.SortedIntersectSize." +
      s"${if (longs) "mergeLongs" else "mergeStrings"}($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectSize =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectSize {
  import org.apache.spark.sql.catalyst.util.ArrayData

  /** Merge body over two sorted string arrays: the distinct-common-element
    * count. Null sorts above every value (array_sort order). */
  def mergeStrings(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements(); val m = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < n && j < m) {
      val an = a.isNullAt(i); val bn = b.isNullAt(j)
      if (an && bn) { c += 1; i = n; j = m } // nulls are last; one match
      else if (an) j += 1 // null > any value: advance the smaller side
      else if (bn) i += 1
      else {
        val av = a.getUTF8String(i); val bv = b.getUTF8String(j)
        val cmp = av.binaryCompare(bv)
        if (cmp < 0) i += 1
        else if (cmp > 0) j += 1
        else {
          c += 1
          i += 1; j += 1
          while (i < n && !a.isNullAt(i) && a.getUTF8String(i).binaryCompare(av) == 0) i += 1
          while (j < m && !b.isNullAt(j) && b.getUTF8String(j).binaryCompare(bv) == 0) j += 1
        }
      }
    }
    c
  }

  /** [[mergeStrings]] over two sorted long arrays. */
  def mergeLongs(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements(); val m = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < n && j < m) {
      val an = a.isNullAt(i); val bn = b.isNullAt(j)
      if (an && bn) { c += 1; i = n; j = m }
      else if (an) j += 1
      else if (bn) i += 1
      else {
        val av = a.getLong(i); val bv = b.getLong(j)
        if (av < bv) i += 1
        else if (av > bv) j += 1
        else {
          c += 1
          i += 1; j += 1
          while (i < n && !a.isNullAt(i) && a.getLong(i) == av) i += 1
          while (j < m && !b.isNullAt(j) && b.getLong(j) == bv) j += 1
        }
      }
    }
    c
  }

  /** Column wrapper. */
  def sortedIntersectSize(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftSqlBridge.column(SortedIntersectSize(
      org.apache.spark.sql.GraftSqlBridge.expression(a),
      org.apache.spark.sql.GraftSqlBridge.expression(b)))
}
