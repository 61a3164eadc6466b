package graft.core.text

/** Tool-call dialect rewriting: NexAU XML → Qwen / MiniMax / GLM /
  * OpenRouter / DeepSeek inline formats (behavioral reference: parsers
  * `convert_trace_to_specific_tool_call_style.py:71-214`, emitters
  * `:217-314`, fixed conversion order `:509-569`). Pure string functions;
  * registered as the `convert_dialect` UDF.
  */
object Dialects extends Serializable {

  final case class CallInfo(name: String, params: Vector[(String, String)])

  val Supported: Set[String] = Set("qwen", "minimax", "glm", "openrouter", "deepseek")

  // ---- emitters ----------------------------------------------------------

  private def emit(c: CallInfo, format: String): String = {
    def lines(head: Seq[String], param: (String, String) => Seq[String],
        tail: Seq[String]): String =
      (head ++ c.params.flatMap(param.tupled) ++ tail).mkString("\n")
    format.toLowerCase match {
      case "qwen" => lines(Seq("<tool_call>", s"<function=${c.name}>"),
        (k, v) => Seq(s"<parameter=$k>$v</parameter>"), Seq("</function>", "</tool_call>"))
      case "minimax" => lines(Seq(s"<invoke name=${c.name}>"),
        (k, v) => Seq(s"<parameter name=$k>$v</parameter>"), Seq("</invoke>"))
      case "glm" => lines(Seq(s"<tool_call>${c.name}"),
        (k, v) => Seq(s"<arg_key>$k</arg_key>", s"<arg_value>$v</arg_value>"),
        Seq("</tool_call>"))
      case "openrouter" =>
        lines(Seq(s"<${c.name}>"), (k, v) => Seq(s"<$k>$v</$k>"), Seq(s"</${c.name}>"))
      // fullwidth-bar / lower-eighth-block unicode framing, JSON arguments
      case "deepseek" =>
        "<｜tool▁calls▁begin｜><｜tool▁call▁begin｜>" + c.name + "<｜tool▁sep｜>" +
          NexXml.Json.obj(c.params) + "<｜tool▁call▁end｜><｜tool▁calls▁end｜>"
      case other => throw new IllegalArgumentException(
        s"Unsupported format: $other. Supported: ${Supported.mkString(", ")}")
    }
  }

  // ---- NexAU parsers -----------------------------------------------------

  private def parseToolUse(body: String): Option[CallInfo] =
    NexXml.nameAndParams(body).map { case (name, params) => CallInfo(name, params) }

  /** sub-agent → CallInfo("sub-agent", agent_name/message[/history]). */
  private def parseSubAgent(body: String): Option[CallInfo] =
    NexTags.firstText(body, "agent_name").map { name =>
      val hist = NexTags.first(body, "history").map(_.trim).filter(_.nonEmpty)
      CallInfo("sub-agent",
        Vector("agent_name" -> name, "message" -> trimmed(body, "message")) ++
          hist.map("history" -> _))
    }

  private def parseBatchAgent(body: String): Option[CallInfo] =
    NexTags.firstText(body, "agent_name").map { name =>
      CallInfo("batch-agent",
        Vector("agent_name" -> name,
          "input_data_source" -> trimmed(body, "input_data_source"),
          "message" -> trimmed(body, "message")))
    }

  private def trimmed(body: String, tag: String): String =
    NexTags.first(body, tag).fold("")(_.trim)

  // ---- whole-message conversion ------------------------------------------

  /** Rewrite every NexAU call in `message` to the target dialect, in the
    * reference's fixed order: batch → parallel sub-agents → parallel tools
    * → single sub-agent → single tool_use. Each pass rewrites what the
    * earlier passes left, so a block inside an emitted parameter or
    * message value is converted by its own later pass. Unparseable blocks
    * pass through untouched. */
  def convertMessage(message: String, format: String): String = {
    require(Supported.contains(format.toLowerCase),
      s"Unsupported format: $format. Supported: ${Supported.mkString(", ")}")
    def each(body: String, tag: String)(parse: String => Option[CallInfo]) =
      NexTags.blocks(body, tag).flatMap(b => parse(b.body))
    def emitAll(calls: Vector[CallInfo]): Option[String] =
      if (calls.isEmpty) None else Some(calls.map(emit(_, format)).mkString("\n"))
    var out = NexTags.rewrite(message, "use_batch_agent")(b =>
      parseBatchAgent(b).map(emit(_, format)))
    out = NexTags.rewrite(out, "use_parallel_sub_agents")(b =>
      emitAll(each(b, "parallel_agent")(parseSubAgent) ++
        each(b, "parallel_tool")(parseToolUse)))
    out = NexTags.rewrite(out, "use_parallel_tool_calls")(b =>
      emitAll(each(b, "parallel_tool")(parseToolUse)))
    out = NexTags.rewrite(out, "sub-agent")(b => parseSubAgent(b).map(emit(_, format)))
    NexTags.rewrite(out, "tool_use")(b => parseToolUse(b).map(emit(_, format)))
  }
}
