package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Compiled ordered-fold kernels — the round-20 optimization of the
  * engine's bit-exact summation idiom. The portable spelling
  * `aggregate(array_sort(collect_list(x)), 0.0, (a, v) -> a + v)` keeps
  * cross-engine hashes stable (one canonical element order, one IEEE add
  * sequence — the house rule since the BM25 fold), but the `aggregate`
  * higher-order function runs INTERPRETED with a lambda frame per
  * element and `array_sort` materializes a second array per group; on
  * the BM25 scoring tail (3.9M pair rows, 247k groups at sf0.1) the two
  * together measured ~3× the cost of the whole aggregation
  * (SCALING.md round 20: 8.1 s fold vs 3.7 s collect-only vs 2.7 s plain
  * sum).
  * These kernels compute the identical value — same comparison order as
  * `array_sort` (binary UTF8String order for strings, IEEE
  * `Double.compare` order for doubles, field-by-field for the pair
  * struct), then the identical strict left-to-right IEEE adds from the
  * identical 0.0 — in one compiled pass with no per-element frames.
  * The DotFold rule applies: do not reorder or vectorize the
  * accumulation; bit-exactness with the DuckDB oracle depends on it.
  *
  * Element contract: the input arrays come from `collect_list`, which
  * never emits null elements, and the folded values are non-null
  * arithmetic — both kernels throw loudly on a null element rather than
  * guessing at the interpreted spelling's null propagation. */
case class SortedSumFold(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "sorted_sum_fold"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got $other")
  }

  override protected def nullSafeEval(a: Any): Any =
    SortedSumFold.compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.plans.SortedSumFold.compute($a)")

  override protected def withNewChildInternal(
      newChild: Expression): SortedSumFold = copy(child = newChild)
}

object SortedSumFold {
  /** Ascending IEEE order (Arrays.sort(double[]) sorts exactly like
    * Double.compare: -0.0 < 0.0, NaN last — Catalyst's DoubleType
    * ordering), then strict left-to-right adds from 0.0 — the same
    * sequence `aggregate(array_sort(xs), 0.0, _+_)` performs. */
  def compute(a: ArrayData): Double = {
    val n = a.numElements()
    val xs = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) throw new IllegalArgumentException(
        "sorted_sum_fold: null element — the kernel folds collect_list " +
          "output, which cannot contain nulls; a null means a caller bug")
      xs(i) = a.getDouble(i)
      i += 1
    }
    java.util.Arrays.sort(xs)
    var acc = 0.0
    i = 0
    while (i < n) { acc += xs(i); i += 1 }
    acc
  }
}

/** Ordered fold of BM25 term contributions: sort (term, c) pairs exactly
  * like `array_sort` orders struct<string,double> (binary UTF8 order on
  * the term, `Double.compare` on ties — unreachable here, terms are
  * distinct per group), then left-fold 0.0 + c. The compiled twin of the
  * scoring tail's `aggregate(array_sort(collect_list(struct(term, c))),
  * 0.0, (acc, t) -> acc + t.c)` — identical doubles by identical op
  * order, pinned against the interpreted spelling in RetrievalSpec. */
case class TermContribFold(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "term_contrib_fold"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(s: StructType, _)
        if s.length == 2 && s(0).dataType == StringType &&
          s(1).dataType == DoubleType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<struct<string,double>>, got $other")
  }

  override protected def nullSafeEval(a: Any): Any =
    TermContribFold.compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.plans.TermContribFold.compute($a)")

  override protected def withNewChildInternal(
      newChild: Expression): TermContribFold = copy(child = newChild)
}

/** Ordered fold of BM25 term contributions keyed by the term's RANK in
  * the binary-UTF8-sorted query vocabulary instead of the term string
  * itself (round 20, guide §2.3: the pair stream between the anchor
  * fan-out and the per-(query, doc) aggregation is the engine's largest
  * exchange — 3.9 M rows at sf0.1 — and the term string on each row
  * existed ONLY to fix the IEEE add order; a 4-byte int that sorts
  * identically carries the same information). Sorting distinct ranks
  * ascending visits contributions in exactly the order sorting their
  * distinct terms would — the rank map is order-preserving by
  * construction — so the left-fold produces bit-identical doubles to
  * [[TermContribFold]] over the same group. Ties on rank are
  * unreachable (terms are distinct per group and the rank map is
  * injective); the c tiebreak mirrors array_sort's struct order for
  * totality. */
case class RankContribFold(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "rank_contrib_fold"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(s: StructType, _)
        if s.length == 2 && s(0).dataType == IntegerType &&
          s(1).dataType == DoubleType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<struct<int,double>>, got $other")
  }

  override protected def nullSafeEval(a: Any): Any =
    RankContribFold.compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.plans.RankContribFold.compute($a)")

  override protected def withNewChildInternal(
      newChild: Expression): RankContribFold = copy(child = newChild)
}

object RankContribFold {
  def compute(a: ArrayData): Double = {
    val n = a.numElements()
    val rs = new Array[Int](n)
    val cs = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) throw new IllegalArgumentException(
        "rank_contrib_fold: null element — the kernel folds collect_list " +
          "output, which cannot contain nulls; a null means a caller bug")
      val s = a.getStruct(i, 2)
      rs(i) = s.getInt(0)
      cs(i) = s.getDouble(1)
      i += 1
    }
    // insertion sort by (rank, c): groups are query-vocabulary-bounded
    i = 1
    while (i < n) {
      val r = rs(i)
      val c = cs(i)
      var j = i - 1
      while (j >= 0 && (rs(j) > r ||
          (rs(j) == r && java.lang.Double.compare(cs(j), c) > 0))) {
        rs(j + 1) = rs(j)
        cs(j + 1) = cs(j)
        j -= 1
      }
      rs(j + 1) = r
      cs(j + 1) = c
      i += 1
    }
    var acc = 0.0
    i = 0
    while (i < n) { acc += cs(i); i += 1 }
    acc
  }
}

object TermContribFold {
  def compute(a: ArrayData): Double = {
    val n = a.numElements()
    val terms = new Array[UTF8String](n)
    val cs = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) throw new IllegalArgumentException(
        "term_contrib_fold: null element — the kernel folds collect_list " +
          "output, which cannot contain nulls; a null means a caller bug")
      val s = a.getStruct(i, 2)
      terms(i) = s.getUTF8String(0)
      cs(i) = s.getDouble(1)
      i += 1
    }
    // insertion sort by (term, c): groups are query-vocabulary-bounded
    // (tens of elements), where insertion sort beats any allocating sort
    i = 1
    while (i < n) {
      val t = terms(i)
      val c = cs(i)
      var j = i - 1
      while (j >= 0 && {
        val cmp = terms(j).compareTo(t)
        cmp > 0 || (cmp == 0 && java.lang.Double.compare(cs(j), c) > 0)
      }) {
        terms(j + 1) = terms(j)
        cs(j + 1) = cs(j)
        j -= 1
      }
      terms(j + 1) = t
      cs(j + 1) = c
      i += 1
    }
    var acc = 0.0
    i = 0
    while (i < n) { acc += cs(i); i += 1 }
    acc
  }
}
