package graft.functions

import graft.core.text.{Dialects, NexXml, TextOps, XmlValidator}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/** SQL-facing registration of the pure text operators (SURVEY.md §2.10).
  * Each UDF wraps a function from graft.core.text that is unit-tested
  * without Spark; `xml_valid` additionally exists as a codegen Catalyst
  * expression (graft.plans.XmlValid, SQL name `xml_valid_native`,
  * registered by [[graft.plans.GraftExtensions]]) — what q42 builds.
  */
object TextFunctions extends Serializable {

  val xmlValid: UserDefinedFunction = udf((s: String) =>
    if (s == null) false else XmlValidator.isValid(s))

  val xmlErrors: UserDefinedFunction = udf((s: String) =>
    if (s == null) Seq.empty[String] else XmlValidator.validate(s))

  val restoreTags: UserDefinedFunction = udf((s: String) =>
    if (s == null) null else NexXml.restoreClosingTags(s))

  /** (content, traceId, spanId) -> cleaned content. */
  val cleanContent: UserDefinedFunction =
    udf((s: String, trace: String, span: String) =>
      if (s == null) null
      else {
        var ord = 0
        def id(): String = {
          val v = graft.converter.SpanConverter.callId(trace, span, ord); ord += 1; v
        }
        NexXml.extractToolCalls(s, id _)._1
      })

  /** (content, traceId, spanId) -> serialized tool-call JSON objects. */
  val extractCalls: UserDefinedFunction =
    udf((s: String, trace: String, span: String) =>
      if (s == null) Seq.empty[String]
      else {
        var ord = 0
        def id(): String = {
          val v = graft.converter.SpanConverter.callId(trace, span, ord); ord += 1; v
        }
        NexXml.extractToolCalls(s, id _)._2.map(_.toJson)
      })

  val convertDialect: UserDefinedFunction = udf((s: String, format: String) =>
    if (s == null) null else Dialects.convertMessage(s, format))

  val stripSysPrompt: UserDefinedFunction = udf((s: String) =>
    if (s == null) null else TextOps.stripSysPromptSections(s))

  val parseDifficulty: UserDefinedFunction = udf((s: String) =>
    if (s == null) Seq.empty[(String, String)]
    else TextOps.parseDifficultyAnswers(s))

  val extractJson: UserDefinedFunction = udf((s: String) =>
    if (s == null) None else TextOps.extractJsonObject(s))

  val sanitizeName: UserDefinedFunction = udf((s: String) =>
    if (s == null) null else TextOps.sanitizeName(s))

  /** Register everything under stable SQL names. */
  def register(spark: SparkSession): Unit = {
    spark.udf.register("xml_valid", xmlValid)
    spark.udf.register("xml_errors", xmlErrors)
    spark.udf.register("restore_tags", restoreTags)
    spark.udf.register("clean_content", cleanContent)
    spark.udf.register("extract_calls", extractCalls)
    spark.udf.register("convert_dialect", convertDialect)
    spark.udf.register("strip_sysprompt", stripSysPrompt)
    spark.udf.register("parse_difficulty", parseDifficulty)
    spark.udf.register("extract_json", extractJson)
    spark.udf.register("sanitize_name", sanitizeName)
  }
}
