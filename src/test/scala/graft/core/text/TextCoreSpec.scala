package graft.core.text

import org.scalatest.funsuite.AnyFunSuite

/** Unit tests for the pure text core — no SparkSession needed.
  * Expectations mirror observable behaviors of the reference converter
  * (cited per function in the implementation scaladoc).
  */
class TextCoreSpec extends AnyFunSuite {

  private var ord = -1
  private def id(): String = { ord += 1; s"call_$ord" }
  private def reset(): Unit = ord = -1

  // ---- restoreClosingTags -----------------------------------------------

  test("restores a missing closing tag chopped by a stop sequence") {
    val s = "before <tool_use><tool_name>x</tool_name>"
    assert(NexXml.restoreClosingTags(s) == s + "</tool_use>")
  }

  test("does not touch balanced content or append when already closed") {
    val ok = "<tool_use>a</tool_use>"
    assert(NexXml.restoreClosingTags(ok) == ok)
    val trailingWs = "<tool_use>a</tool_use>  \n"
    assert(NexXml.restoreClosingTags(trailingWs) == trailingWs)
  }

  // ---- parseParams -------------------------------------------------------

  test("parses tagged params in order, unescaping entities") {
    val p = NexXml.parseParams("<a>1</a><b>x &amp; y</b>")
    assert(p == Vector("a" -> "1", "b" -> "x & y"))
  }

  test("numeric entities outside Unicode become U+FFFD; decimal takes digits only") {
    val bad = "\uFFFD"
    Seq("&#x110000;", "&#99999999999;", "&#xFFFFFFFFFFFF;", "&#0;", "&#x0;",
        "&#xD800;", "&#57343;").foreach { e =>
      assert(NexXml.htmlUnescape(s"a${e}b") == s"a${bad}b", e)
    }
    assert(NexXml.htmlUnescape("&#1a;") == "&#1a;")
    assert(NexXml.htmlUnescape("&#x10FFFF;&#0065;&#x1F600;") ==
      new String(Character.toChars(0x10FFFF)) + "A" + "\uD83D\uDE00")
    assert(NexXml.parseParams("<q>x &#x110000; y</q>") == Vector("q" -> s"x $bad y"))
  }

  test("plain text falls back to content param") {
    assert(NexXml.parseParams("  hello ") == Vector("content" -> "hello"))
    assert(NexXml.parseParams("   ") == Vector.empty)
  }

  // ---- extractToolCalls --------------------------------------------------

  test("extracts a single tool_use, removing it from content") {
    reset()
    val content =
      "Thinking.\n<tool_use><tool_name>search</tool_name><parameter><q>spark</q></parameter></tool_use>\nDone."
    val (clean, calls) = NexXml.extractToolCalls(content, id _)
    assert(clean == "Thinking.\n\nDone.")
    assert(calls.map(_.name) == Vector("search"))
    assert(calls.head.argumentsJson == """{"q": "spark"}""")
  }

  test("unparseable tool_use (no tool_name) is left in place") {
    reset()
    val content = "<tool_use><oops>x</oops></tool_use>"
    val (clean, calls) = NexXml.extractToolCalls(content, id _)
    assert(clean == content)
    assert(calls.isEmpty)
  }

  test("sub-agent becomes <name>_sub_agent with message argument") {
    reset()
    val content =
      "<sub-agent><agent_name>writer</agent_name><message>draft it</message></sub-agent>"
    val (clean, calls) = NexXml.extractToolCalls(content, id _)
    assert(clean.isEmpty)
    assert(calls.map(_.name) == Vector("writer_sub_agent"))
    assert(calls.head.argumentsJson == """{"message": "draft it"}""")
  }

  test("parallel blocks flatten to one call per inner element, agents before tools") {
    reset()
    val content =
      """<use_parallel_sub_agents>
        |<parallel_tool><tool_name>t1</tool_name><parameter><x>1</x></parameter></parallel_tool>
        |<parallel_agent><agent_name>a1</agent_name><message>m1</message></parallel_agent>
        |</use_parallel_sub_agents>""".stripMargin
    val (clean, calls) = NexXml.extractToolCalls(content, id _)
    assert(clean.isEmpty)
    assert(calls.map(_.name) == Vector("a1_sub_agent", "t1"))
  }

  test("batch agent carries batch_mode/input_file/format/message_template") {
    reset()
    val content =
      """<use_batch_agent><agent_name>b</agent_name>
        |<input_data_source><file_name>in.jsonl</file_name><format>jsonl</format></input_data_source>
        |<message>do {item}</message></use_batch_agent>""".stripMargin
    val (_, calls) = NexXml.extractToolCalls(content, id _)
    assert(calls.head.name == "b_sub_agent")
    assert(calls.head.argumentsJson ==
      """{"batch_mode": true, "input_file": "in.jsonl", "format": "jsonl", "message_template": "do {item}"}""")
  }

  test("truncated tool_use is restored then extracted") {
    reset()
    val content = "<tool_use><tool_name>t</tool_name><parameter><a>1</a></parameter>"
    val (clean, calls) = NexXml.extractToolCalls(content, id _)
    assert(clean.isEmpty)
    assert(calls.map(_.name) == Vector("t"))
  }

  // ---- XmlValidator ------------------------------------------------------

  test("balanced content validates; unclosed tag reported") {
    assert(XmlValidator.checkTagsBalanced("<a><b>x</b></a>").isEmpty)
    val errs = XmlValidator.checkTagsBalanced("<a><b>x</a>")
    assert(errs.exists(_.contains("Tag mismatch")))
    assert(XmlValidator.checkTagsBalanced("text with <br> and <img>").isEmpty)
    assert(XmlValidator.checkTagsBalanced("<x/>").isEmpty)
  }

  test("CJK tag names and comments are handled") {
    assert(XmlValidator.checkTagsBalanced("<工具>值</工具>").isEmpty)
    assert(XmlValidator.checkTagsBalanced("<!-- <unclosed> -->ok").isEmpty)
  }

  test("tool_use without parameter fails the gate") {
    val errs = XmlValidator.validate("<tool_use><tool_name>t</tool_name></tool_use>")
    assert(errs.exists(_.contains("missing <parameter>")))
    assert(XmlValidator.isValid(
      "<tool_use><tool_name>t</tool_name><parameter><a>1</a></parameter></tool_use>"))
  }

  test("unclosed block containers are reported") {
    assert(XmlValidator.validate("x <use_parallel_tool_calls> y")
      .exists(_.contains("unclosed")))
  }

  // ---- Dialects ----------------------------------------------------------

  private val nexauCall =
    "<tool_use>\n<tool_name>search</tool_name>\n<parameter>\n<query>tut</query>\n<k>5</k>\n</parameter>\n</tool_use>"

  test("qwen emission") {
    assert(Dialects.convertMessage(nexauCall, "qwen") ==
      "<tool_call>\n<function=search>\n<parameter=query>tut</parameter>\n<parameter=k>5</parameter>\n</function>\n</tool_call>")
  }

  test("minimax, glm, openrouter emissions") {
    assert(Dialects.convertMessage(nexauCall, "minimax") ==
      "<invoke name=search>\n<parameter name=query>tut</parameter>\n<parameter name=k>5</parameter>\n</invoke>")
    assert(Dialects.convertMessage(nexauCall, "glm") ==
      "<tool_call>search\n<arg_key>query</arg_key>\n<arg_value>tut</arg_value>\n<arg_key>k</arg_key>\n<arg_value>5</arg_value>\n</tool_call>")
    assert(Dialects.convertMessage(nexauCall, "openrouter") ==
      "<search>\n<query>tut</query>\n<k>5</k>\n</search>")
  }

  test("deepseek unicode framing with JSON args") {
    val out = Dialects.convertMessage(nexauCall, "deepseek")
    assert(out == "<｜tool▁calls▁begin｜><｜tool▁call▁begin｜>search<｜tool▁sep｜>" +
      """{"query": "tut", "k": "5"}""" + "<｜tool▁call▁end｜><｜tool▁calls▁end｜>")
  }

  test("surrounding prose survives dialect conversion") {
    val msg = s"before\n$nexauCall\nafter"
    val out = Dialects.convertMessage(msg, "qwen")
    assert(out.startsWith("before\n") && out.endsWith("\nafter"))
    assert(!out.contains("<tool_use>"))
  }

  test("unsupported dialect throws") {
    intercept[IllegalArgumentException](Dialects.convertMessage("x", "nope"))
  }

  // ---- TextOps -----------------------------------------------------------

  test("strips tag-delimited sysprompt sections") {
    val sys = "Intro\n<TOOL_DEFINITIONS_START>docs<TOOL_DEFINITIONS_END>\nOutro"
    assert(TextOps.stripSysPromptSections(sys) == "Intro\n\nOutro")
  }

  test("strips heading-delimited tool section up to sub-agents heading") {
    val sys = "Intro\n## Available Tools\n- t1\n## Available Sub-Agents\n- a1"
    val out = TextOps.stripSysPromptSections(sys)
    assert(!out.contains("- t1"))
  }

  test("parses difficulty answers, English wins over Chinese") {
    val en = "**EASY:** e1\n**MEDIUM:** m1\n**HARD:** h1"
    assert(TextOps.parseDifficultyAnswers(en) ==
      Vector("easy" -> "e1", "medium" -> "m1", "hard" -> "h1"))
    val zh = "**简单:** e\n**困难:** h"
    assert(TextOps.parseDifficultyAnswers(zh) == Vector("easy" -> "e", "hard" -> "h"))
    assert(TextOps.parseDifficultyAnswers("**WEIRD:** x").isEmpty)
  }

  test("extracts embedded JSON objects, with and without fences") {
    assert(TextOps.extractJsonObject("""noise {"a": 1} tail""") == Some("""{"a": 1}"""))
    assert(TextOps.extractJsonObject("```json\n{\"b\": 2}\n```") == Some("""{"b": 2}"""))
    assert(TextOps.extractJsonObject("no json here").isEmpty)
  }

  test("sanitizes names") {
    assert(TextOps.sanitizeName("  a b/c:d  ") == "a_b_c_d")
    assert(TextOps.sanitizeName("x" * 200).length == 100)
  }

  // ---- tool results ------------------------------------------------------

  test("parses tool_result pairs") {
    val content =
      "Tool execution results:\n<tool_result><tool_name>s</tool_name><result>r1</result></tool_result>" +
        "<tool_result><tool_name>t</tool_name><result>r2</result></tool_result>"
    assert(NexXml.parseToolResults(content) == Vector("s" -> "r1", "t" -> "r2"))
  }

  // ---- ToolDefs (F6) -----------------------------------------------------

  test("tool definition synthesized from a Usage block") {
    // reference parity: only DIRECT tag pairs inside the Usage block are
    // parameter candidates — a <parameter>…</parameter> wrapper is itself
    // matched as one (skipped) pair, consuming its children
    val desc =
      """Searches the web for snippets.
        |Usage: <tool_use>
        |<tool_name>search</tool_name>
        |<query>the query text (required, type: string)</query>
        |<limit>max results (type: integer)</limit>
        |</tool_use>""".stripMargin
    val td = ToolDefs.fromDescription("search", desc)
    assert(td.description == "Searches the web for snippets.")
    assert(td.params.map(_.name) == Vector("query", "limit"))
    assert(td.params(0).required && !td.params(1).required)
    assert(td.params(1).tpe == "integer")
    assert(td.params(0).description == "the query text")
    val json = td.toJson
    assert(json.contains("\"required\": [\"query\"]"))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    assert(mapper.readTree(json).get("function").get("name").asText == "search")
  }

  test("tool definition without a Usage block has empty parameters") {
    val td = ToolDefs.fromDescription("noop", "Does nothing useful.")
    assert(td.params.isEmpty)
    assert(td.toJson.contains("\"properties\": {}"))
  }

  test("F10: string arguments normalize to the object they encode; garbage to {}") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def argsOf(json: String) =
      mapper.readTree(json).get("function").get("arguments")

    val good = NexXml.normalizeArguments(
      NexXml.ToolCall("call_1", "search", """{"query": "x", "limit": 5}""").toJson)
    assert(argsOf(good).isObject)
    assert(argsOf(good).get("query").asText == "x")
    assert(argsOf(good).get("limit").asInt == 5)

    // unparseable string arguments -> {}
    val bad = NexXml.normalizeArguments(
      NexXml.ToolCall("call_2", "search", "not { json").toJson)
    assert(argsOf(bad).isObject && argsOf(bad).isEmpty)

    // lenient parse: a raw control character inside a string survives
    val ctl = NexXml.normalizeArguments(
      NexXml.ToolCall("call_3", "search", "{\"q\": \"ab\"}").toJson)
    assert(argsOf(ctl).get("q").asText == "ab")

    // idempotent: already-object arguments pass through unchanged
    assert(NexXml.normalizeArguments(good) == good)
    // non-JSON input passes through untouched
    assert(NexXml.normalizeArguments("<not json>") == "<not json>")
  }
}
