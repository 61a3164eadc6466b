package graft.plans

import graft.SparkSpec
import graft.functions.TextFunctions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.DatasetBridge

import graft.queries.{Dedup, Similarity}
import graft.sources.IvfIndex

/** Native-expression checks and the kernel door. */
class GraftExtensionsSpec extends SparkSpec {

  private val samples = Seq(
    "<tool_use><tool_name>t</tool_name><parameter><a>1</a></parameter></tool_use>",
    "<tool_use><tool_name>t</tool_name></tool_use>", // missing parameter
    "plain text, no xml",
    "<a><b></a>", // mismatch
    null)

  test("native expression agrees with the UDF on every sample") {
    import spark.implicits._
    TextFunctions.register(spark)
    GraftExtensions.install(spark)
    val df = samples.toDF("content")
    val both = df.select(
      expr("xml_valid(content)").as("viaUdf"),
      expr("xml_valid_native(content)").as("viaNative")).collect()
    both.foreach(r => assert(r.get(0) == r.get(1), r.toString))
  }

  test("expression survives whole-stage codegen") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val n = spark.range(200)
      .select(concat(lit("<a>"), col("id"), lit("</a>")).as("content"))
      .filter(expr("xml_valid_native(content)"))
      .count()
    assert(n == 200)
  }

  test("inject/install parity: one description list serves both entry " +
      "points and covers every engine function (the round-21 ADVICE fix " +
      "— the round-20 kernels were install-only and a cluster session on " +
      "spark.sql.extensions alone failed with undefined-function)") {
    // THE function-name inventory: adding a kernel means adding it here
    // too, so a description dropped from the shared list fails loudly
    // instead of silently vanishing from one registration path.
    val expected = Set(
      "xml_valid_native", "minhash_sigs", "dot_fold", "dot_fold_i8", "det_ln",
      "sorted_sum_fold", "term_contrib_fold", "rank_contrib_fold",
      "word_shingles", "char_ngrams", "rolling_hash",
      "sorted_intersect_count", "window_hashes", "winnow_positions",
      "sorted_hash64", "sorted_long_jaccard_ge", "bloom_might_contain",
      "mg_candidates", "vec_gram", "simhash_fp32", "hamming_bits")
    val listed = GraftExtensions.allDescriptions.map(_._1.funcName).toSet
    assert(listed == expected,
      s"missing: ${expected -- listed}; unexpected: ${listed -- expected}")
    // and the install path registers exactly that list resolvably
    GraftExtensions.install(spark)
    expected.foreach { name =>
      assert(spark.sessionState.functionRegistry
        .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name)),
        s"$name did not resolve after install()")
    }
  }

  test("kernel builds every listed name with the node its SQL name resolves to") {
    val (a, b) = (col("a"), col("b"))
    val argsOf: Map[String, Seq[org.apache.spark.sql.Column]] = Map(
      "xml_valid_native" -> Seq(a), "minhash_sigs" -> Seq(a, lit(12)),
      "dot_fold" -> Seq(a, b), "dot_fold_i8" -> Seq(a, b), "det_ln" -> Seq(a),
      "sorted_sum_fold" -> Seq(a), "term_contrib_fold" -> Seq(a),
      "rank_contrib_fold" -> Seq(a), "word_shingles" -> Seq(a, lit(3)),
      "char_ngrams" -> Seq(a, lit(3), lit(true)), "rolling_hash" -> Seq(a),
      "sorted_intersect_count" -> Seq(a, b), "window_hashes" -> Seq(a, lit(16)),
      "winnow_positions" -> Seq(a, lit(4)), "sorted_hash64" -> Seq(a),
      "sorted_long_jaccard_ge" -> Seq(a, b, lit(0.5)),
      "bloom_might_contain" -> Seq(lit(Array[Byte](1, 2)), b),
      "mg_candidates" -> Seq(a, lit(5)), "vec_gram" -> Seq(a),
      "simhash_fp32" -> Seq(a), "hamming_bits" -> Seq(a, b, lit(32)))
    val listed = GraftExtensions.allDescriptions
    assert(listed.map(_._1.funcName).toSet == argsOf.keySet)
    listed.foreach { case (id, info, _) =>
      val node = DatasetBridge.expression(
        GraftExtensions.kernel(id.funcName, argsOf(id.funcName): _*)) match {
        case agg: AggregateExpression => agg.aggregateFunction
        case e => e
      }
      assert(node.getClass.getName == info.getClassName, id.funcName)
    }
    val err = intercept[IllegalArgumentException](GraftExtensions.kernel("nope"))
    assert(err.getMessage.contains("nope"), err.getMessage)
    // the literal checks are the SQL builder's
    intercept[IllegalArgumentException](
      GraftExtensions.kernel("word_shingles", a, col("n")))
  }

  test("engine kernels resolve on a fresh session where install never ran") {
    IvfIndex.build(spark, sfDir, "ivf_fresh", buckets = 4)
    val fresh = spark.newSession()
    val registry = fresh.sessionState.functionRegistry
    assert(!registry.functionExists(FunctionIdentifier("dot_fold")))
    assert(!registry.functionExists(FunctionIdentifier("word_shingles")))

    // Similarity.dot
    val dot = fresh.range(1)
      .select(Similarity.dot(array(lit(1.5), lit(2.0)), array(lit(2.0), lit(0.25))))
      .head().getDouble(0)
    assert(dot == 3.5)

    // a float IVF probe over literal anchors (no normedVectorsOf upstream)
    val vs = Similarity.normedVectors(spark, sfDir).filter(col("vec_id") < 2)
      .orderBy("vec_id").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Seq[Double]]("v"), r.getAs[Double]("nrm")))
      .toSeq
    def probed(s: org.apache.spark.sql.SparkSession) = {
      val anchors = s.createDataFrame(vs).toDF("query_id", "v", "nrm")
      IvfIndex.topKFor(s, "ivf_fresh", anchors, k = 3)
        .select("query_id", "neighbor_id", "cosine", "rank")
        .orderBy("query_id", "rank").collect().toSeq
    }
    val got = probed(fresh)
    assert(got.nonEmpty && got == probed(spark))

    // a Dedup kernel query (word_shingles -> minhash_sigs -> bands)
    def bands(s: org.apache.spark.sql.SparkSession) = {
      val docs = graft.Tables.documents(s, sfDir).select("doc_id", "text")
      Dedup.bandRowsOf(Dedup.minhashSigsOf(s, Dedup.shinglesOf(docs, 3)))
        .orderBy("doc_id", "band").collect().toSeq
    }
    val freshBands = bands(fresh)
    assert(freshBands.nonEmpty && freshBands == bands(spark))

    // q42 builds the native validator: no xml_valid UDF to rewrite
    val q42 = graft.SparkEntry.queries("q42_xml_validation_stats")(fresh, sfDir)
    val optimized = q42.queryExecution.optimizedPlan
    def anyExpr(f: org.apache.spark.sql.catalyst.expressions.Expression => Boolean) =
      optimized.exists(_.expressions.exists(_.exists(f)))
    assert(anyExpr(_.isInstanceOf[XmlValid]), s"expected XmlValid in:\n$optimized")
    assert(!anyExpr {
      case u: ScalaUDF => u.udfName.contains("xml_valid")
      case _ => false
    }, s"no xml_valid UDF expected in:\n$optimized")
    assert(q42.collect().toSeq ==
      graft.SparkEntry.queries("q42_xml_validation_stats")(spark, sfDir).collect().toSeq)
    assert(!registry.functionExists(FunctionIdentifier("dot_fold")),
      "nothing above may have installed the kernel names on the fresh session")
  }
}
