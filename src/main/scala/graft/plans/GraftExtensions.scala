package graft.plans

import graft.core.text.XmlValidator
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, ScalaUDF, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the XML quality gate (SURVEY.md §4
  * "custom Catalyst surface"): unlike the `xml_valid` ScalaUDF, this
  * participates in whole-stage codegen — the generated Java calls the
  * static validator directly, with no encoder round-trip per row. The
  * validator itself (graft.core.text.XmlValidator) is the same pure
  * function either way, so UDF and native results are identical by
  * construction.
  */
case class XmlValid(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "xml_valid_native"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")

  // null content is invalid content (false), matching the xml_valid UDF's
  // null handling — required for RewriteXmlValidUdf to preserve semantics
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    v != null && XmlValidator.isValid(v.asInstanceOf[UTF8String].toString)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        boolean ${ev.value} = !${c.isNull} &&
          graft.core.text.XmlValidator.isValid(${c.value}.toString());""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): XmlValid =
    copy(child = newChild)
}

/** Optimizer rule: rewrite the registered `xml_valid` ScalaUDF into the
  * codegen-capable [[XmlValid]] expression wherever it appears. This is the
  * UDF-to-native pattern: queries keep the portable UDF spelling, the
  * optimizer upgrades the physical plan.
  */
object RewriteXmlValidUdf extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case udf: ScalaUDF if udf.udfName.contains("xml_valid") && udf.children.size == 1 =>
        XmlValid(udf.children.head)
    }
}

/** Session-extension entry point: `spark.sql.extensions=graft.plans.
  * GraftExtensions` on a cluster, or [[GraftExtensions.install]] on an
  * already-built session (tests, notebooks).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => RewriteXmlValidUdf)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    // round-21 parity fix (ADVICE): the inject path and install() used to
    // enumerate functions separately, and the round-20 kernels were only
    // ever added to install() — a cluster session configured with
    // spark.sql.extensions=graft.plans.GraftExtensions alone failed with
    // undefined-function for sorted_sum_fold / term_contrib_fold /
    // rank_contrib_fold / simhash_fp32 / hamming_bits (char_ngrams and
    // rolling_hash had drifted the same way earlier). Both entry points
    // now iterate ONE description list, so they cannot diverge again;
    // GraftExtensionsSpec pins the list against the install-path names.
    GraftExtensions.allDescriptions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {

  private[plans] val functionDescription = (
    org.apache.spark.sql.catalyst.FunctionIdentifier("xml_valid_native"),
    new ExpressionInfo(classOf[XmlValid].getName, "xml_valid_native"),
    (children: Seq[Expression]) => XmlValid(children.head))

  /** minhash_sigs(shingles, k) — k is a foldable int literal. */
  private[plans] val minhashDescription = (
    org.apache.spark.sql.catalyst.FunctionIdentifier("minhash_sigs"),
    new ExpressionInfo(classOf[MinHashSigs].getName, "minhash_sigs"),
    (children: Seq[Expression]) => mkMinhash(children))

  private def mkMinhash(children: Seq[Expression]): Expression = {
    require(children.size == 2 && children(1).foldable,
      "minhash_sigs(shingles, k) requires a literal k")
    MinHashSigs(children.head,
      children(1).eval(InternalRow.empty).asInstanceOf[Int])
  }

  private[plans] val dotFoldDescription = (
    org.apache.spark.sql.catalyst.FunctionIdentifier("dot_fold"),
    new ExpressionInfo(classOf[DotFold].getName, "dot_fold"),
    (children: Seq[Expression]) => DotFold(children(0), children(1)))

  /** det_ln(x) — the deterministic ln the BM25 idf rides on; Scala
    * callers use [[graft.queries.DetMath.lnCol]], which builds the same
    * node without needing this registration. */
  private[plans] val detLnDescription = (
    org.apache.spark.sql.catalyst.FunctionIdentifier("det_ln"),
    new ExpressionInfo(classOf[DetLn].getName, "det_ln"),
    (children: Seq[Expression]) => {
      require(children.size == 1,
        s"det_ln(x) takes exactly 1 argument, got ${children.size}")
      DetLn(children.head)
    })

  private[plans] val dotFoldI8Description = (
    org.apache.spark.sql.catalyst.FunctionIdentifier("dot_fold_i8"),
    new ExpressionInfo(classOf[DotFoldI8].getName, "dot_fold_i8"),
    (children: Seq[Expression]) => DotFoldI8(children(0), children(1)))

  private[plans] val sortedSumFoldDescription = (
    org.apache.spark.sql.catalyst.FunctionIdentifier("sorted_sum_fold"),
    new ExpressionInfo(classOf[SortedSumFold].getName, "sorted_sum_fold"),
    (children: Seq[Expression]) => SortedSumFold(children.head))

  private[plans] val termContribFoldDescription = (
    org.apache.spark.sql.catalyst.FunctionIdentifier("term_contrib_fold"),
    new ExpressionInfo(classOf[TermContribFold].getName, "term_contrib_fold"),
    (children: Seq[Expression]) => TermContribFold(children.head))

  private[plans] val rankContribFoldDescription = (
    org.apache.spark.sql.catalyst.FunctionIdentifier("rank_contrib_fold"),
    new ExpressionInfo(classOf[RankContribFold].getName, "rank_contrib_fold"),
    (children: Seq[Expression]) => RankContribFold(children.head))

  /** Evaluate a foldable literal argument to the expected type with a
    * diagnosable error — a bare asInstanceOf would surface registered-
    * function misuse as an anonymous ClassCastException. */
  private def literalAs[T](fn: String, arg: String, e: Expression)(
      pf: PartialFunction[Any, T]): T = {
    require(e.foldable, s"$fn requires a literal $arg")
    val v = e.eval(InternalRow.empty)
    pf.applyOrElse(v, (other: Any) => throw new IllegalArgumentException(
      s"$fn: $arg must be a literal of the expected type, got " +
        s"${if (other == null) "NULL" else other.getClass.getSimpleName}: $other"))
  }

  private def mkShingles(children: Seq[Expression]): Expression = {
    require(children.size == 2 || children.size == 3,
      "word_shingles(text, n[, distinct]) takes 2 or 3 arguments")
    val distinct = children.size < 3 ||
      literalAs("word_shingles", "distinct flag", children(2)) {
        case b: Boolean => b
      }
    WordShingles(children.head,
      literalAs("word_shingles", "n", children(1)) { case i: Int => i },
      distinct)
  }

  private[plans] val shinglesDescription = (
    org.apache.spark.sql.catalyst.FunctionIdentifier("word_shingles"),
    new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
    (children: Seq[Expression]) => mkShingles(children))

  private def mkSortedIntersect(children: Seq[Expression]): Expression = {
    require(children.size == 2,
      s"sorted_intersect_count(a, b) takes exactly 2 arguments, got ${children.size}")
    SortedIntersectCount(children(0), children(1))
  }

  private[plans] val sortedIntersectDescription = (
    org.apache.spark.sql.catalyst.FunctionIdentifier("sorted_intersect_count"),
    new ExpressionInfo(classOf[SortedIntersectCount].getName, "sorted_intersect_count"),
    (children: Seq[Expression]) => mkSortedIntersect(children))

  private def mkSortedHash64(children: Seq[Expression]): Expression = {
    require(children.size == 1,
      s"sorted_hash64(arr) takes exactly 1 argument, got ${children.size}")
    SortedHash64(children.head)
  }

  private[plans] val sortedHash64Description = (
    org.apache.spark.sql.catalyst.FunctionIdentifier("sorted_hash64"),
    new ExpressionInfo(classOf[SortedHash64].getName, "sorted_hash64"),
    (children: Seq[Expression]) => mkSortedHash64(children))

  private def mkSortedLongJaccardGe(children: Seq[Expression]): Expression = {
    require(children.size == 3,
      "sorted_long_jaccard_ge(a, b, t) takes exactly 3 arguments")
    val t = literalAs("sorted_long_jaccard_ge", "threshold t", children(2)) {
        case d: Double => d
        case f: Float => f.toDouble
        case i: Int => i.toDouble
        case l: Long => l.toDouble
        case d: org.apache.spark.sql.types.Decimal => d.toDouble
      }
    // The function is registered for ad-hoc SQL: reject NaN/Infinity here
    // as a clean argument error (a non-finite threshold is meaningless for
    // a ratio in [0, 1], and would otherwise only surface downstream).
    require(java.lang.Double.isFinite(t),
      s"sorted_long_jaccard_ge threshold t must be finite, got $t")
    SortedLongJaccardGe(children(0), children(1), t)
  }

  private[plans] val sortedLongJaccardGeDescription = (
    org.apache.spark.sql.catalyst.FunctionIdentifier("sorted_long_jaccard_ge"),
    new ExpressionInfo(classOf[SortedLongJaccardGe].getName, "sorted_long_jaccard_ge"),
    (children: Seq[Expression]) => mkSortedLongJaccardGe(children))

  /** bloom_might_contain(bloom_bytes, xxhash64_value) — Spark's own
    * [[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]]
    * (the runtime-filter probe, codegen-capable), registered so queries can
    * probe a pre-built `DataFrame.stat.bloomFilter` sketch (serialized via
    * `BloomFilter.writeTo` — the formats are identical) without a Scala
    * UDF. The bloom argument must be foldable (a binary literal or scalar
    * subquery — the expression's own contract); the value argument is the
    * same xxhash64 the sketch was built over. */
  private def mkBloomMightContain(children: Seq[Expression]): Expression = {
    require(children.size == 2,
      s"bloom_might_contain(bloom, value) takes exactly 2 arguments, got ${children.size}")
    org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      children(0), children(1))
  }

  private[plans] val bloomMightContainDescription = (
    org.apache.spark.sql.catalyst.FunctionIdentifier("bloom_might_contain"),
    new ExpressionInfo(
      classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
      "bloom_might_contain"),
    (children: Seq[Expression]) => mkBloomMightContain(children))

  private def mkWindowHashes(children: Seq[Expression]): Expression = {
    require(children.size == 2 && children(1).foldable,
      "window_hashes(text, w) requires a literal w")
    WindowHashes(children.head,
      children(1).eval(InternalRow.empty).asInstanceOf[Int])
  }

  private[plans] val windowHashesDescription = (
    org.apache.spark.sql.catalyst.FunctionIdentifier("window_hashes"),
    new ExpressionInfo(classOf[WindowHashes].getName, "window_hashes"),
    (children: Seq[Expression]) => mkWindowHashes(children))

  private def mkWinnow(children: Seq[Expression]): Expression = {
    require(children.size == 2 && children(1).foldable,
      "winnow_positions(hs, k) requires a literal k")
    WinnowPositions(children.head,
      children(1).eval(InternalRow.empty).asInstanceOf[Int])
  }

  private[plans] val winnowDescription = (
    org.apache.spark.sql.catalyst.FunctionIdentifier("winnow_positions"),
    new ExpressionInfo(classOf[WinnowPositions].getName, "winnow_positions"),
    (children: Seq[Expression]) => mkWinnow(children))

  private def mkMgCandidates(children: Seq[Expression]): Expression = {
    require(children.size == 2,
      s"mg_candidates(col, k) takes exactly 2 arguments, got ${children.size}")
    val k = literalAs("mg_candidates", "k", children(1)) { case i: Int => i }
    require(k >= 1, s"mg_candidates k must be >= 1, got $k")
    MisraGriesAgg(children.head, k)
  }

  private[plans] val mgCandidatesDescription = (
    org.apache.spark.sql.catalyst.FunctionIdentifier("mg_candidates"),
    new ExpressionInfo(classOf[MisraGriesAgg].getName, "mg_candidates"),
    (children: Seq[Expression]) => mkMgCandidates(children))

  private[plans] val vecGramDescription = (
    org.apache.spark.sql.catalyst.FunctionIdentifier("vec_gram"),
    new ExpressionInfo(classOf[VecGramAgg].getName, "vec_gram"),
    (children: Seq[Expression]) => {
      require(children.size == 1,
        s"vec_gram(qv) takes exactly 1 argument, got ${children.size}")
      VecGramAgg(children.head)
    })

  private def mkSimhashFp32(children: Seq[Expression]): Expression = {
    require(children.size == 1,
      s"simhash_fp32(hashes) takes exactly 1 argument, got ${children.size}")
    SimhashFp32(children.head)
  }

  private[plans] val simhashFp32Description = (
    org.apache.spark.sql.catalyst.FunctionIdentifier("simhash_fp32"),
    new ExpressionInfo(classOf[SimhashFp32].getName, "simhash_fp32"),
    (children: Seq[Expression]) => mkSimhashFp32(children))

  private def mkHammingBits(children: Seq[Expression]): Expression = {
    require(children.size == 3,
      s"hamming_bits(a, b, nBits) takes exactly 3 arguments, got ${children.size}")
    HammingBits(children(0), children(1),
      literalAs("hamming_bits", "nBits", children(2)) { case i: Int => i })
  }

  private[plans] val hammingBitsDescription = (
    org.apache.spark.sql.catalyst.FunctionIdentifier("hamming_bits"),
    new ExpressionInfo(classOf[HammingBits].getName, "hamming_bits"),
    (children: Seq[Expression]) => mkHammingBits(children))

  private def mkCharNgrams(children: Seq[Expression]): Expression = {
    require(children.size == 3 && children(1).foldable && children(2).foldable,
      "char_ngrams(text, n, distinct) requires literal n and distinct")
    CharNgrams(children.head,
      children(1).eval(InternalRow.empty).asInstanceOf[Int],
      children(2).eval(InternalRow.empty).asInstanceOf[Boolean])
  }

  private[plans] val charNgramsDescription = (
    org.apache.spark.sql.catalyst.FunctionIdentifier("char_ngrams"),
    new ExpressionInfo(classOf[CharNgrams].getName, "char_ngrams"),
    (children: Seq[Expression]) => mkCharNgrams(children))

  private[plans] val rollingHashDescription = (
    org.apache.spark.sql.catalyst.FunctionIdentifier("rolling_hash"),
    new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
    (children: Seq[Expression]) => RollingHash(children.head))

  /** The ONE list both registration paths iterate (the round-21 parity
    * fix): a function added here is injectable via spark.sql.extensions
    * AND installed by [[install]] — it is impossible to add a kernel to
    * one path and silently miss the other. */
  private[plans] val allDescriptions: Seq[(
      org.apache.spark.sql.catalyst.FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    functionDescription,
    minhashDescription,
    dotFoldDescription,
    dotFoldI8Description,
    detLnDescription,
    sortedSumFoldDescription,
    termContribFoldDescription,
    rankContribFoldDescription,
    shinglesDescription,
    charNgramsDescription,
    rollingHashDescription,
    sortedIntersectDescription,
    windowHashesDescription,
    winnowDescription,
    sortedHash64Description,
    sortedLongJaccardGeDescription,
    bloomMightContainDescription,
    mgCandidatesDescription,
    vecGramDescription,
    simhashFp32Description,
    hammingBitsDescription)

  /** Imperative install on an existing session. */
  def install(spark: SparkSession): Unit = {
    if (!spark.experimental.extraOptimizations.contains(RewriteXmlValidUdf))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RewriteXmlValidUdf
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
    allDescriptions.foreach { case (id, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        id.funcName, builder, "scala_udf")
    }
  }
}
