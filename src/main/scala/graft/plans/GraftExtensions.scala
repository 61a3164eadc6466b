package graft.plans

import graft.core.text.XmlValidator
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression,
  ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.DatasetBridge
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
  // null handling
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

/** Session-extension entry point: `spark.sql.extensions=graft.plans.
  * GraftExtensions` on a cluster, or [[GraftExtensions.install]] on an
  * already-built session (tests, notebooks). Either one gives SQL the
  * kernels' names and the planner the as-of strategy; engine code needs
  * neither for its kernels ([[GraftExtensions.kernel]] builds the nodes).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    // the inject path and install() iterate ONE description list, so a
    // kernel cannot be added to one entry point and missed by the other;
    // GraftExtensionsSpec pins the list against the install-path names
    GraftExtensions.allDescriptions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {

  private type Builder = Seq[Expression] => Expression

  /** One kernel's registration: its SQL name, node class and builder. */
  private def fn(name: String, node: Class[_])(build: Builder) =
    (FunctionIdentifier(name), new ExpressionInfo(node.getName, name), build)

  /** `build` behind an exact arity check that names the signature. */
  private def exactly(sig: String, n: Int)(build: Builder): Builder =
    children => {
      require(children.size == n, s"$sig takes exactly $n argument" +
        s"${if (n == 1) "" else "s"}, got ${children.size}")
      build(children)
    }

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

  private def intArg(fn: String, arg: String, e: Expression): Int =
    literalAs(fn, arg, e) { case i: Int => i }

  private def boolArg(fn: String, arg: String, e: Expression): Boolean =
    literalAs(fn, arg, e) { case b: Boolean => b }

  private def mkShingles(children: Seq[Expression]): Expression = {
    require(children.size == 2 || children.size == 3,
      "word_shingles(text, n[, distinct]) takes 2 or 3 arguments")
    val distinct = children.size < 3 ||
      boolArg("word_shingles", "distinct flag", children(2))
    WordShingles(children.head, intArg("word_shingles", "n", children(1)),
      distinct)
  }

  private def mkSortedLongJaccardGe(children: Seq[Expression]): Expression = {
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

  private def mkMgCandidates(children: Seq[Expression]): Expression = {
    val k = intArg("mg_candidates", "k", children(1))
    require(k >= 1, s"mg_candidates k must be >= 1, got $k")
    MisraGriesAgg(children.head, k)
  }

  /** The ONE kernel list: a function added here is injectable via
    * spark.sql.extensions, installed by [[install]] and built by
    * [[kernel]] — it is impossible to add a kernel to one path and
    * silently miss another. */
  private[plans] val allDescriptions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    fn("xml_valid_native", classOf[XmlValid])(c => XmlValid(c.head)),
    fn("minhash_sigs", classOf[MinHashSigs])(exactly("minhash_sigs(shingles, k)", 2)(c =>
      MinHashSigs(c.head, intArg("minhash_sigs", "k", c(1))))),
    fn("dot_fold", classOf[DotFold])(c => DotFold(c(0), c(1))),
    fn("dot_fold_i8", classOf[DotFoldI8])(c => DotFoldI8(c(0), c(1))),
    // the deterministic ln BM25's idf rides on (DetMath.lnCol)
    fn("det_ln", classOf[DetLn])(exactly("det_ln(x)", 1)(c => DetLn(c.head))),
    fn("sorted_sum_fold", classOf[SortedSumFold])(c => SortedSumFold(c.head)),
    fn("term_contrib_fold", classOf[TermContribFold])(c => TermContribFold(c.head)),
    fn("rank_contrib_fold", classOf[RankContribFold])(c => RankContribFold(c.head)),
    fn("word_shingles", classOf[WordShingles])(mkShingles),
    fn("char_ngrams", classOf[CharNgrams])(exactly("char_ngrams(text, n, distinct)", 3)(c =>
      CharNgrams(c.head, intArg("char_ngrams", "n", c(1)),
        boolArg("char_ngrams", "distinct", c(2))))),
    fn("rolling_hash", classOf[RollingHash])(c => RollingHash(c.head)),
    fn("sorted_intersect_count", classOf[SortedIntersectCount])(
      exactly("sorted_intersect_count(a, b)", 2)(c => SortedIntersectCount(c(0), c(1)))),
    fn("window_hashes", classOf[WindowHashes])(exactly("window_hashes(text, w)", 2)(c =>
      WindowHashes(c.head, intArg("window_hashes", "w", c(1))))),
    fn("winnow_positions", classOf[WinnowPositions])(exactly("winnow_positions(hs, k)", 2)(c =>
      WinnowPositions(c.head, intArg("winnow_positions", "k", c(1))))),
    fn("sorted_hash64", classOf[SortedHash64])(
      exactly("sorted_hash64(arr)", 1)(c => SortedHash64(c.head))),
    fn("sorted_long_jaccard_ge", classOf[SortedLongJaccardGe])(
      exactly("sorted_long_jaccard_ge(a, b, t)", 3)(mkSortedLongJaccardGe)),
    // bloom_might_contain(bloom_bytes, xxhash64_value): Spark's own
    // codegen'd runtime-filter probe over a `DataFrame.stat.bloomFilter`
    // sketch serialized by `BloomFilter.writeTo` (the formats are
    // identical); the bloom argument must be foldable (the expression's
    // own contract), the value the xxhash64 the sketch was built over
    fn("bloom_might_contain", classOf[BloomFilterMightContain])(
      exactly("bloom_might_contain(bloom, value)", 2)(c => BloomFilterMightContain(c(0), c(1)))),
    fn("mg_candidates", classOf[MisraGriesAgg])(
      exactly("mg_candidates(col, k)", 2)(mkMgCandidates)),
    fn("vec_gram", classOf[VecGramAgg])(exactly("vec_gram(qv)", 1)(c => VecGramAgg(c.head))),
    fn("simhash_fp32", classOf[SimhashFp32])(
      exactly("simhash_fp32(hashes)", 1)(c => SimhashFp32(c.head))),
    fn("hamming_bits", classOf[HammingBits])(exactly("hamming_bits(a, b, nBits)", 3)(c =>
      HammingBits(c(0), c(1), intArg("hamming_bits", "nBits", c(2))))))

  private val builders: Map[String, Builder] =
    allDescriptions.map { case (id, _, build) => id.funcName -> build }.toMap

  /** Sessions whose function registry already holds the kernel names. */
  private val named = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]))

  /** The one way engine code reaches a compiled kernel: the node `name`
    * names, built by the same builder the SQL name resolves through (so
    * both spellings share the literal checks and cannot drift) over
    * `args`, wrapped as an aggregate where the kernel is one. The Column
    * resolves on any session, installed or not. An unknown `name` throws
    * here, naming it.
    *
    * It also registers the SQL names in the active session, once per
    * session: callers that spell a kernel by name (`expr("word_shingles(
    * text, 3)")` in an ad-hoc query or a benchmark's per-kernel timing)
    * after running engine code keep resolving, as they did when every
    * engine entry point ran [[install]]. */
  def kernel(name: String, args: Column*): Column = {
    val build = builders.getOrElse(name, throw new IllegalArgumentException(
      s"no compiled kernel named '$name' (known: ${builders.keys.toSeq.sorted.mkString(", ")})"))
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(s => if (named.add(s)) registerFunctions(s))
    DatasetBridge.column(build(args.map(DatasetBridge.expression)) match {
      case agg: AggregateFunction => agg.toAggregateExpression()
      case e => e
    })
  }

  private def registerFunctions(spark: SparkSession): Unit =
    allDescriptions.foreach { case (id, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        id.funcName, builder, "scala_udf")
    }

  /** Install on an existing session: the kernels' SQL names and the
    * as-of join strategy ([[AsOf.join]] runs this; engine kernels go
    * through [[kernel]] and need no install). */
  def install(spark: SparkSession): Unit = {
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
    registerFunctions(spark)
    named.add(spark)
  }
}
