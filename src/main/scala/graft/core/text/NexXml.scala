package graft.core.text

import scala.collection.immutable.VectorBuilder
import scala.util.matching.Regex

import com.fasterxml.jackson.core.json.JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS
import com.fasterxml.jackson.databind.{ObjectMapper, json, node}

/** NexAU-XML tool-call model and extraction — the converter's heart.
  *
  * Behavioral reference (not a port): tag restoration
  * `convert_spans_to_chatcompletion.py:785-812`, extraction `:946-1362`,
  * parameter parse `:1366-1384`. Pure functions, unit-tested without Spark;
  * registered as UDFs / wrapped by a Catalyst expression in
  * [[graft.functions.TextFunctions]].
  */
object NexXml extends Serializable {

  /** One extracted call in ChatCompletion shape; `argumentsJson` is a JSON
    * object string (python-`json.dumps(ensure_ascii=False)`-compatible). */
  final case class ToolCall(id: String, name: String, argumentsJson: String) {
    def toJson: String =
      s"""{"id": ${Json.str(id)}, "type": "function", "function": {"name": ${Json
        .str(name)}, "arguments": ${Json.str(argumentsJson)}}}"""
  }

  /** Minimal python-json.dumps-compatible encoder (default separators,
    * ensure_ascii=False: non-ASCII stays raw, control chars escaped). */
  object Json {
    def str(s: String): String = {
      val sb = new StringBuilder("\"")
      s.foreach {
        case '"'           => sb.append("\\\"")
        case '\\'          => sb.append("\\\\")
        case '\n'          => sb.append("\\n")
        case '\r'          => sb.append("\\r")
        case '\t'          => sb.append("\\t")
        case c if c < ' '  => sb.append(f"\\u${c.toInt}%04x")
        case c             => sb.append(c)
      }
      sb.append('"').toString
    }

    def obj(fields: Seq[(String, String)]): String =
      fields.map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString("{", ", ", "}")

    /** Object with raw (pre-encoded) values. */
    def objRaw(fields: Seq[(String, String)]): String =
      fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  }

  /** F10: tool-call arguments normalization (behavioral reference
    * `convert_spans_to_chatcompletion.py:1729-1744`): a string-typed
    * `function.arguments` is parsed into the JSON value it encodes —
    * leniently, control characters allowed, like python's
    * `json.loads(strict=False)` — and inlined as a real object; an
    * unparseable string becomes `{}`. Already-object arguments, calls
    * without a function block, and unparseable call JSON pass through
    * unchanged. */
  def normalizeArguments(toolCallJson: String): String =
    scala.util.Try {
      val root = Mapper.readTree(toolCallJson)
      Option(root.get("function")).collect { case fn: node.ObjectNode => fn } match {
        case Some(fn) if Option(fn.get("arguments")).exists(_.isTextual) =>
          val parsed = scala.util.Try(LenientMapper.readTree(fn.get("arguments").asText))
            .toOption.filter(n => n != null && !n.isMissingNode)
            .getOrElse(Mapper.createObjectNode())
          fn.set[node.ObjectNode]("arguments", parsed)
          Mapper.writeValueAsString(root)
        case _ => toolCallJson
      }
    }.getOrElse(toolCallJson)

  // configured once, then only read from: safe to share across threads
  private val Mapper = new ObjectMapper()
  private val LenientMapper =
    json.JsonMapper.builder().enable(ALLOW_UNESCAPED_CONTROL_CHARS).build()

  private val TagPairs: Seq[(String, String)] =
    NexTags.BlockTags.map(t => (s"<$t>", s"</$t>"))

  /** Restore closing tags chopped off by LLM stop sequences: for each known
    * pair, if the text contains the opener, does not (rstripped) end with
    * the closer, and openers outnumber closers, append one closer. */
  def restoreClosingTags(s: String): String =
    TagPairs.foldLeft(s) { case (acc, (open, close)) =>
      def count(hay: String, needle: String): Int = {
        var n = 0; var i = hay.indexOf(needle)
        while (i >= 0) { n += 1; i = hay.indexOf(needle, i + needle.length) }
        n
      }
      if (acc.contains(open) && !acc.stripTrailing.endsWith(close) &&
        count(acc, open) > count(acc, close)) acc + close
      else acc
    }

  /** Minimal HTML entity unescape (the subset the reference's
    * `html.unescape` sees in practice; `&amp;` is resolved last). */
  def htmlUnescape(s: String): String =
    NumericEntity.replaceAllIn(s, m => {
      val code = Integer.parseInt(m.group(2), if (m.group(1).nonEmpty) 16 else 10)
      Regex.quoteReplacement(new String(Character.toChars(code)))
    })
      .replace("&lt;", "<").replace("&gt;", ">")
      .replace("&quot;", "\"").replace("&apos;", "'")
      .replace("&amp;", "&")

  private val NumericEntity: Regex = "&#(x?)([0-9a-fA-F]+);".r

  private val ParamPair: Regex = "(?s)<([^>]+)>(.*?)</\\1>".r

  /** Parse a `<parameter>` block body into ordered (name, value) pairs;
    * plain text (no tags) falls back to a single "content" entry. */
  def parseParams(paramBlock: String): Vector[(String, String)] =
    if (paramBlock.contains("<") && paramBlock.contains(">"))
      ParamPair.findAllMatchIn(paramBlock)
        .map(m => m.group(1).trim -> htmlUnescape(m.group(2)).trim)
        .toVector
    else if (paramBlock.trim.nonEmpty) Vector("content" -> paramBlock.trim)
    else Vector.empty

  private val SubAgent: Regex =
    "(?s)<sub-agent>\\s*<agent_name>([^<]+)</agent_name>\\s*<message>(.*?)</message>\\s*</sub-agent>".r
  private val ParallelAgent: Regex =
    "(?s)<parallel_agent>\\s*<agent_name>([^<]+)</agent_name>\\s*<message>(.*?)</message>\\s*</parallel_agent>".r
  private val BatchAgent: Regex =
    "(?s)<use_batch_agent>\\s*<agent_name>([^<]+)</agent_name>\\s*<input_data_source>(.*?)</input_data_source>\\s*<message>(.*?)</message>\\s*</use_batch_agent>".r
  private val FileName: Regex = "<file_name>([^<]+)</file_name>".r
  private val DataFormat: Regex = "<format>([^<]+)</format>".r

  /** A tool_use body's name and parameters by the plain tag grammar: the
    * first non-empty `<tool_name>` text and the first `<parameter>` block. */
  private[text] def nameAndParams(body: String): Option[(String, Vector[(String, String)])] =
    NexTags.firstText(body, "tool_name").map(name =>
      name -> NexTags.first(body, "parameter").fold(Vector.empty[(String, String)])(p =>
        parseParams(p.trim)))

  /** Extract every NexAU call form from assistant content, in the
    * reference's stage order (single tool_use → sub-agent → parallel tools
    * → parallel sub-agents [agents then tools] → batch agent). Matched text
    * is removed; unparseable tool_use blocks are left in place. `newId`
    * supplies call ids (deterministic under the engine's md5 scheme).
    * Returns (cleaned content, calls in extraction order). */
  def extractToolCalls(content: String, newId: () => String): (String, Vector[ToolCall]) = {
    val calls = new VectorBuilder[ToolCall]

    // robust XML first (F2's recovery chain — handles raw markup inside
    // values, truncated lines, CDATA), the plain tag grammar as the final
    // fallback
    def parseSingleTool(block: String): Option[ToolCall] =
      RobustXml.parseToolUse(block).orElse(nameAndParams(block))
        .map { case (name, params) => ToolCall(newId(), name, Json.obj(params)) }

    def subAgent(name: String, message: String): Unit =
      calls += ToolCall(newId(), s"${name.trim}_sub_agent",
        Json.obj(Vector("message" -> message.trim)))

    def parallelTools(body: String): Unit =
      NexTags.blocks(body, "parallel_tool")
        .flatMap(t => parseSingleTool(t.body.strip))
        .foreach(calls += _)

    var out = restoreClosingTags(content)

    out = NexTags.rewrite(out, "tool_use")(b =>
      parseSingleTool(b.strip).map { tc => calls += tc; "" })

    out = SubAgent.replaceAllIn(out, m => { subAgent(m.group(1), m.group(2)); "" })

    out = NexTags.rewrite(out, "use_parallel_tool_calls") { body =>
      parallelTools(body)
      Some("")
    }

    out = NexTags.rewrite(out, "use_parallel_sub_agents") { body =>
      ParallelAgent.findAllMatchIn(body).foreach(a => subAgent(a.group(1), a.group(2)))
      parallelTools(body)
      Some("")
    }

    out = BatchAgent.replaceAllIn(out, m => {
      val src = m.group(2)
      val file = FileName.findFirstMatchIn(src).map(_.group(1).trim).getOrElse("")
      val fmt = DataFormat.findFirstMatchIn(src).map(_.group(1).trim).getOrElse("jsonl")
      calls += ToolCall(newId(), s"${m.group(1).trim}_sub_agent",
        Json.objRaw(Vector(
          "batch_mode" -> "true",
          "input_file" -> Json.str(file),
          "format" -> Json.str(fmt),
          "message_template" -> Json.str(m.group(3).trim))))
      ""
    })

    (out.strip, calls.result())
  }

  private val ToolResult: Regex =
    "(?s)<tool_result>\\s*<tool_name>([^<]+)</tool_name>\\s*<result>(.*?)</result>\\s*</tool_result>".r

  /** Parse a "Tool execution results:" user message body into
    * (tool_name, result) pairs. */
  def parseToolResults(content: String): Vector[(String, String)] =
    ToolResult.findAllMatchIn(content)
      .map(m => m.group(1).trim -> m.group(2).trim).toVector
}
