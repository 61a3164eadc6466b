package graft.queries

import graft.{GraftQuery, Tables}
import graft.converter.{SpanConverter, Spans}
import graft.functions.TextFunctions
import graft.plans.GraftExtensions.kernel
import org.apache.spark.sql.functions._

/** The converter DAG exposed through the driver contract. Spans are
  * synthesized deterministically from `documents` (the driver ships no span
  * parquet), so results are stable across runs; correctness of the text
  * semantics is pinned by the ScalaTest suites over graft.core.text — these
  * registry entries carry rows-only checks (no SQL-expressible oracle).
  */
object Converter {

  /** Q40: full spans → ChatCompletion conversion (P1→A1→J3→F5/F3/J5→P2).
    * One row per converted training record. */
  private val q40 = GraftQuery(
    "q40_convert_spans",
    (spark, dir) => {
      val records = SpanConverter.convert(spark, Spans.synthesize(spark, dir).toDF)
      records.select(
        col("trace_id"), col("span_id"), col("agent_name"),
        col("finish_reason"), col("n_tool_calls"),
        size(col("messages")).as("n_messages"), col("valid"))
        .orderBy("trace_id", "span_id")
    },
    // The synthesis is a deterministic function of `documents`, so the
    // converter's end-to-end output is independently derivable: meta
    // traces (doc_id%5=0) drop, A1 keeps gen_b, J3 resolves the
    // "Sub-agent: "-stripped agent, J5 re-roles the one tool result
    // (4 staged + 1 response messages), extraction finds 1 input call
    // plus 1 output call (2 for the parallel-block docs), and every
    // record validates. A row differing in ANY of these flips the hash.
    Some("""
      SELECT 'trace_' || doc_id AS trace_id,
             'span_' || doc_id || '_gen_b' AS span_id,
             lang || '_agent' AS agent_name,
             'tool_calls' AS finish_reason,
             CAST(CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 2 END AS INT) AS n_tool_calls,
             CAST(5 AS INT) AS n_messages,
             true AS valid
      FROM documents
      WHERE doc_id % 5 != 0
      ORDER BY trace_id, span_id"""),
    headline = true)

  /** Q41: agent distribution over converted records (A3,
    * `convert_spans_to_chatcompletion.py:1857-1877`). */
  private val q41 = GraftQuery(
    "q41_agent_distribution",
    (spark, dir) =>
      SpanConverter.convert(spark, Spans.synthesize(spark, dir).toDF)
        .groupBy("agent_name", "finish_reason")
        .count()
        .orderBy("agent_name", "finish_reason"),
    Some("""
      SELECT lang || '_agent' AS agent_name,
             'tool_calls' AS finish_reason,
             count(*) AS count
      FROM documents
      WHERE doc_id % 5 != 0
      GROUP BY lang
      ORDER BY agent_name, finish_reason"""))

  /** Q42: XML quality gate (P9/F13) over synthesized assistant content —
    * valid/invalid counts + first error kinds, the A4 stats rollup. */
  private val q42 = GraftQuery(
    "q42_xml_validation_stats",
    (spark, dir) => {
      TextFunctions.register(spark)
      Spans.synthesize(spark, dir).toDF
        .filter(col("output.content").isNotNull)
        .select(col("trace_id"),
          kernel("xml_valid_native", col("output.content")).as("valid"),
          expr("size(xml_errors(output.content))").as("n_errors"))
        .groupBy("valid")
        .agg(count(lit(1)).as("n_spans"), sum(col("n_errors")).as("total_errors"))
        .orderBy("valid")
    },
    // Every synthesized generation (2 per document — the agent spans have
    // no output) must validate with zero errors; a single invalid row
    // splits the group and flips the hash.
    Some("""
      SELECT true AS valid,
             CAST(2 * count(*) AS BIGINT) AS n_spans,
             CAST(0 AS BIGINT) AS total_errors
      FROM documents
      ORDER BY valid"""))

  // ---- oracle builders: every dialect emitter's exact byte layout,
  // reconstructed as DuckDB concat expressions over the document tokens
  // (t1/t2/t4/t5 named in the oracle CTE). The engine's conversion and
  // this reconstruction share NOTHING but the spec — an md5 match means
  // the emitted bytes are independently right.
  private def nlJoin(parts: Seq[String]): String = parts.mkString(" || chr(10) || ")
  private def qv = "t1 || ' ' || t2"
  private val singleEmit: Map[String, String] = Map(
    "qwen" -> nlJoin(Seq("'<tool_call>'", "'<function=search>'",
      s"'<parameter=query>' || $qv || '</parameter>'",
      "'<parameter=limit>5</parameter>'", "'</function>'", "'</tool_call>'")),
    "minimax" -> nlJoin(Seq("'<invoke name=search>'",
      s"'<parameter name=query>' || $qv || '</parameter>'",
      "'<parameter name=limit>5</parameter>'", "'</invoke>'")),
    "glm" -> nlJoin(Seq("'<tool_call>search'", "'<arg_key>query</arg_key>'",
      s"'<arg_value>' || $qv || '</arg_value>'",
      "'<arg_key>limit</arg_key>'", "'<arg_value>5</arg_value>'", "'</tool_call>'")),
    "openrouter" -> nlJoin(Seq("'<search>'",
      s"'<query>' || $qv || '</query>'", "'<limit>5</limit>'", "'</search>'")),
    "deepseek" ->
      (s"""'<｜tool▁calls▁begin｜><｜tool▁call▁begin｜>search<｜tool▁sep｜>{"query": "' || $qv || '", "limit": "5"}<｜tool▁call▁end｜><｜tool▁calls▁end｜>'"""))
  private val fetchEmit: Map[String, String] = Map(
    "qwen" -> nlJoin(Seq("'<tool_call>'", "'<function=fetch>'",
      "'<parameter=url>' || t4 || '</parameter>'", "'</function>'", "'</tool_call>'")),
    "minimax" -> nlJoin(Seq("'<invoke name=fetch>'",
      "'<parameter name=url>' || t4 || '</parameter>'", "'</invoke>'")),
    "glm" -> nlJoin(Seq("'<tool_call>fetch'", "'<arg_key>url</arg_key>'",
      "'<arg_value>' || t4 || '</arg_value>'", "'</tool_call>'")),
    "openrouter" -> nlJoin(Seq("'<fetch>'", "'<url>' || t4 || '</url>'", "'</fetch>'")),
    "deepseek" ->
      ("""'<｜tool▁calls▁begin｜><｜tool▁call▁begin｜>fetch<｜tool▁sep｜>{"url": "' || t4 || '"}<｜tool▁call▁end｜><｜tool▁calls▁end｜>'"""))
  private val rankEmit: Map[String, String] = Map(
    "qwen" -> nlJoin(Seq("'<tool_call>'", "'<function=rank>'",
      "'<parameter=k>3</parameter>'", "'</function>'", "'</tool_call>'")),
    "minimax" -> nlJoin(Seq("'<invoke name=rank>'",
      "'<parameter name=k>3</parameter>'", "'</invoke>'")),
    "glm" -> nlJoin(Seq("'<tool_call>rank'", "'<arg_key>k</arg_key>'",
      "'<arg_value>3</arg_value>'", "'</tool_call>'")),
    "openrouter" -> nlJoin(Seq("'<rank>'", "'<k>3</k>'", "'</rank>'")),
    "deepseek" ->
      ("""'<｜tool▁calls▁begin｜><｜tool▁call▁begin｜>rank<｜tool▁sep｜>{"k": "3"}<｜tool▁call▁end｜><｜tool▁calls▁end｜>'"""))

  private val tokenCte =
    """t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      tok AS (
        SELECT doc_id,
               toks[(1 % len(toks)) + 1] AS t1,
               toks[(2 % len(toks)) + 1] AS t2,
               toks[(4 % len(toks)) + 1] AS t4,
               toks[(5 % len(toks)) + 1] AS t5
        FROM t)"""

  /** Q43: dialect rewriting (F11/F12) — every synthesized assistant output
    * re-emitted in each target dialect; md5 over the result pins the exact
    * bytes without storing them. */
  private val q43 = GraftQuery(
    "q43_dialect_convert",
    (spark, dir) => {
      TextFunctions.register(spark)
      val dialects = Seq("qwen", "minimax", "glm", "openrouter", "deepseek")
      Spans.synthesize(spark, dir).toDF
        .filter(col("span_id").endsWith("_gen_b"))
        .select(col("trace_id") +:
          dialects.map(d =>
            md5(expr(s"convert_dialect(output.content, '$d')")).as(s"${d}_md5")): _*)
        .orderBy("trace_id")
    },
    Some(s"""
      WITH $tokenCte
      SELECT 'trace_' || doc_id AS trace_id,
        ${Seq("qwen", "minimax", "glm", "openrouter", "deepseek").map(d =>
          s"""md5(CASE WHEN doc_id % 3 = 0
                THEN 'Working on ' || t5 || '.' || chr(10) || ${fetchEmit(d)} || chr(10) || ${rankEmit(d)}
                ELSE 'Done: ' || t5 || '.' || chr(10) || ${singleEmit(d)} END) AS ${d}_md5""")
          .mkString(",\n        ")}
      FROM tok
      ORDER BY trace_id"""),
    headline = true)

  /** Q44: difficulty-answer parsing (F16) as a generator — one row per
    * parsed (difficulty, content) pair from a synthetic LLM response. */
  private val q44 = GraftQuery(
    "q44_parse_difficulty",
    (spark, dir) => {
      TextFunctions.register(spark)
      Tables.documents(spark, dir)
        .withColumn("resp", concat(
          lit("**EASY:** easy about "), col("doc_id"),
          lit("\n**MEDIUM:** medium about "), col("lang"),
          lit("\n**HARD:** hard "), substring(col("text"), 1, 20)))
        .select(col("doc_id"),
          explode(expr("parse_difficulty(resp)")).as("q"))
        .select(col("doc_id"), col("q._1").as("difficulty"), col("q._2").as("content"))
        .orderBy("doc_id", "difficulty")
    },
    // A real parse oracle: DuckDB (RE2) has no lookahead, so instead of the
    // engine's one-pass `(?=\*\*\w+:\*\*|$)` regex each difficulty is
    // extracted independently with the NEXT marker as its delimiter —
    // byte-identical results on this corpus. trim matches Scala's
    // String.trim (space/tab/newline/CR at both ends).
    Some("""
      WITH resp AS (
        SELECT doc_id,
               '**EASY:** easy about ' || doc_id || chr(10) ||
               '**MEDIUM:** medium about ' || lang || chr(10) ||
               '**HARD:** hard ' || substring(text, 1, 20) AS r
        FROM documents),
      parsed AS (
        SELECT doc_id, 'easy' AS difficulty,
               regexp_extract(r, '(?s)\*\*EASY:\*\*\s*(.*?)\*\*MEDIUM:\*\*', 1) AS content
        FROM resp
        UNION ALL
        SELECT doc_id, 'medium',
               regexp_extract(r, '(?s)\*\*MEDIUM:\*\*\s*(.*?)\*\*HARD:\*\*', 1)
        FROM resp
        UNION ALL
        SELECT doc_id, 'hard',
               regexp_extract(r, '(?s)\*\*HARD:\*\*\s*(.*)$', 1)
        FROM resp)
      SELECT doc_id, difficulty,
             trim(content, ' ' || chr(9) || chr(10) || chr(13)) AS content
      FROM parsed
      ORDER BY doc_id, difficulty"""))

  /** Q45: NexAU-mode conversion (tool calls stay inline; restore-only
    * path, the per-framework converter override). */
  private val q45 = GraftQuery(
    "q45_convert_nexau",
    (spark, dir) =>
      SpanConverter.convert(spark, Spans.synthesize(spark, dir).toDF, nexauMode = true)
        .toDF
        .select(
          col("trace_id"), col("span_id"), col("agent_name"),
          col("finish_reason"), size(col("messages")).as("n_messages"),
          md5(col("messages")(2).getField("content")).as("assistant_md5"),
          col("valid"))
        .orderBy("trace_id", "span_id"),
    // The inline-mode records keep the staged assistant turn verbatim
    // (restoreClosingTags is the identity on the balanced corpus);
    // reconstruct its exact bytes from the document tokens and md5 them.
    Some(s"""
      WITH $tokenCte
      SELECT 'trace_' || doc_id AS trace_id,
             'span_' || doc_id || '_gen_b' AS span_id,
             lang || '_agent' AS agent_name,
             'stop' AS finish_reason,
             CAST(5 AS INT) AS n_messages,
             md5('Starting.' || chr(10) ||
                 ${nlJoin(Seq("'<tool_use>'", "'<tool_name>search</tool_name>'",
                   "'<parameter>'", s"'<query>' || $qv || '</query>'",
                   "'<limit>5</limit>'", "'</parameter>'", "'</tool_use>'"))}) AS assistant_md5,
             true AS valid
      FROM tok JOIN documents USING (doc_id)
      WHERE doc_id % 5 != 0
      ORDER BY trace_id, span_id"""),
    headline = true)

  /** Q46: record-level dialect map (F12) — NexAU-mode records (tool calls
    * still inline in content) converted per-message with the reference's
    * role scoping: system/assistant rewritten, user/tool untouched. md5
    * pins the exact post-conversion bytes per record and dialect. */
  private val q46 = GraftQuery(
    "q46_record_dialect",
    (spark, dir) => {
      import spark.implicits._
      val records = SpanConverter.convert(
        spark, Spans.synthesize(spark, dir).toDF, nexauMode = true)
      // One narrow pass computes every dialect (vs a per-dialect
      // self-join that would re-run the whole converter per dialect and
      // shuffle to re-align rows).
      val dialects = Seq("qwen", "glm", "deepseek")
      records.map { r =>
        val digests = dialects.map { d =>
          SpanConverter.md5Hex(SpanConverter.recordDialect(r, d)
            .messages.map(_.content.getOrElse("")).mkString(" "))
        }
        (r.trace_id, r.span_id, digests(0), digests(1), digests(2))
      }.toDF("trace_id", "span_id", "qwen_md5", "glm_md5", "deepseek_md5")
        .orderBy("trace_id", "span_id")
    },
    // All five messages of an inline-mode record are deterministic byte
    // strings of the document, and the role scoping says exactly two of
    // them (the assistant turns) get dialect-rewritten — so the md5 over
    // the space-joined contents is reconstructible end to end.
    Some {
      def assistantConv(d: String) = s"'Starting.' || chr(10) || ${singleEmit(d)}"
      def responseConv(d: String) =
        s"""CASE WHEN doc_id % 3 = 0
             THEN 'Working on ' || t5 || '.' || chr(10) || ${fetchEmit(d)} || chr(10) || ${rankEmit(d)}
             ELSE 'Done: ' || t5 || '.' || chr(10) || ${singleEmit(d)} END"""
      val system =
        """'You are ' || lang || '_agent, a helpful assistant.' || chr(10) ||
           '<TOOL_DEFINITIONS_START>' || chr(10) ||
           'Tool: search — finds ' || t0 || '.' || chr(10) ||
           '<TOOL_DEFINITIONS_END>' || chr(10) ||
           '## Available Sub-Agents' || chr(10) ||
           '- ' || lang || '_helper' || chr(10) ||
           'When you use tools or sub-agents, emit NexAU XML.' || chr(10) || chr(10) ||
           'IMPORTANT: answer faithfully.'"""
      val user = "'Please research: ' || first8"
      val toolResults =
        """'Tool execution results:' || chr(10) ||
           '<tool_result><tool_name>search</tool_name><result>found ' || t3 ||
           '</result></tool_result>'"""
      def rec(d: String) =
        s"""md5($system || ' ' || $user || ' ' || ${assistantConv(d)} || ' ' ||
               $toolResults || ' ' || ${responseConv(d)}) AS ${d}_md5"""
      s"""
      WITH $tokenCte,
      tok2 AS (
        SELECT doc_id,
               toks[(0 % len(toks)) + 1] AS t0,
               toks[(3 % len(toks)) + 1] AS t3,
               array_to_string(toks[1:8], ' ') AS first8
        FROM t)
      SELECT 'trace_' || doc_id AS trace_id,
             'span_' || doc_id || '_gen_b' AS span_id,
             ${Seq("qwen", "glm", "deepseek").map(rec).mkString(",\n             ")}
      FROM tok JOIN tok2 USING (doc_id) JOIN documents USING (doc_id)
      WHERE doc_id % 5 != 0
      ORDER BY trace_id, span_id"""
    },
    headline = true)

  val all: Seq[GraftQuery] = Seq(q40, q41, q42, q43, q44, q45, q46)
}
