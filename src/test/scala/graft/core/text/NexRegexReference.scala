package graft.core.text

import scala.collection.immutable.VectorBuilder
import scala.util.matching.Regex

/** The regex implementations the shared `NexTags` scanner replaced, kept
  * verbatim as the reference `NexTagsSpec` differences the scanner-based
  * consumers against: Dialects' emitters, parsers and `convertMessage`,
  * `NexXml.extractToolCalls`, XmlValidator's four block validators and
  * RobustXml's `escapeParamValues`. Only the object wrappers, the imports
  * of the shared helpers and `XmlValidatorRef.validate`'s assembly of the
  * four are new. */
object NexRegexReference {

  // ---- Dialects ----------------------------------------------------------

  object DialectsRef {
    import Dialects.{CallInfo, Supported}

    def emitQwen(c: CallInfo): String =
      (Seq("<tool_call>", s"<function=${c.name}>") ++
        c.params.map { case (k, v) => s"<parameter=$k>$v</parameter>" } ++
        Seq("</function>", "</tool_call>")).mkString("\n")

    def emitMinimax(c: CallInfo): String =
      (Seq(s"<invoke name=${c.name}>") ++
        c.params.map { case (k, v) => s"<parameter name=$k>$v</parameter>" } ++
        Seq("</invoke>")).mkString("\n")

    def emitGlm(c: CallInfo): String =
      (Seq(s"<tool_call>${c.name}") ++
        c.params.flatMap { case (k, v) =>
          Seq(s"<arg_key>$k</arg_key>", s"<arg_value>$v</arg_value>")
        } ++ Seq("</tool_call>")).mkString("\n")

    def emitOpenrouter(c: CallInfo): String =
      (Seq(s"<${c.name}>") ++
        c.params.map { case (k, v) => s"<$k>$v</$k>" } ++
        Seq(s"</${c.name}>")).mkString("\n")

    /** DeepSeek's fullwidth-bar / lower-eighth-block unicode framing with
      * JSON arguments. */
    def emitDeepseek(c: CallInfo): String =
      "<｜tool▁calls▁begin｜><｜tool▁call▁begin｜>" + c.name + "<｜tool▁sep｜>" +
        NexXml.Json.obj(c.params) + "<｜tool▁call▁end｜><｜tool▁calls▁end｜>"

    def emit(c: CallInfo, format: String): String = format.toLowerCase match {
      case "qwen"       => emitQwen(c)
      case "minimax"    => emitMinimax(c)
      case "glm"        => emitGlm(c)
      case "openrouter" => emitOpenrouter(c)
      case "deepseek"   => emitDeepseek(c)
      case other => throw new IllegalArgumentException(
        s"Unsupported format: $other. Supported: ${Supported.mkString(", ")}")
    }

    private val ToolName: Regex = "(?s)<tool_name>\\s*([^<]+)\\s*</tool_name>".r
    private val ParamBlock: Regex = "(?s)<parameter>(.*?)</parameter>".r

    def parseToolUse(body: String): Option[CallInfo] =
      ToolName.findFirstMatchIn(body).map { m =>
        val params = ParamBlock.findFirstMatchIn(body)
          .map(pm => NexXml.parseParams(pm.group(1).trim)).getOrElse(Vector.empty)
        CallInfo(m.group(1).trim, params)
      }

    private val AgentName: Regex = "(?s)<agent_name>\\s*([^<]+)\\s*</agent_name>".r
    private val Message: Regex = "(?s)<message>(.*?)</message>".r
    private val History: Regex = "(?s)<history>(.*?)</history>".r

    /** sub-agent → CallInfo("sub-agent", agent_name/message[/history]). */
    def parseSubAgent(body: String): Option[CallInfo] =
      AgentName.findFirstMatchIn(body).map { m =>
        val msg = Message.findFirstMatchIn(body).map(_.group(1).trim).getOrElse("")
        val hist = History.findFirstMatchIn(body).map(_.group(1).trim)
        CallInfo("sub-agent",
          Vector("agent_name" -> m.group(1).trim, "message" -> msg) ++
            hist.filter(_.nonEmpty).map("history" -> _))
      }

    private val InputSource: Regex =
      "(?s)<input_data_source>(.*?)</input_data_source>".r

    def parseBatchAgent(body: String): Option[CallInfo] =
      AgentName.findFirstMatchIn(body).map { m =>
        val msg = Message.findFirstMatchIn(body).map(_.group(1).trim).getOrElse("")
        val src = InputSource.findFirstMatchIn(body).map(_.group(1).trim).getOrElse("")
        CallInfo("batch-agent",
          Vector("agent_name" -> m.group(1).trim, "input_data_source" -> src,
            "message" -> msg))
      }

    // ---- whole-message conversion ------------------------------------------

    private val BatchBlock: Regex = "(?s)<use_batch_agent>(.*?)</use_batch_agent>".r
    private val PaBlock: Regex =
      "(?s)<use_parallel_sub_agents>(.*?)</use_parallel_sub_agents>".r
    private val PtBlock: Regex =
      "(?s)<use_parallel_tool_calls>(.*?)</use_parallel_tool_calls>".r
    private val Pa: Regex = "(?s)<parallel_agent>(.*?)</parallel_agent>".r
    private val Pt: Regex = "(?s)<parallel_tool>(.*?)</parallel_tool>".r
    private val SubAgentBlock: Regex = "(?s)<sub-agent>(.*?)</sub-agent>".r
    private val ToolUseBlock: Regex = "(?s)<tool_use>(.*?)</tool_use>".r

    private def sub(re: Regex, s: String)(f: String => Option[String]): String =
      re.replaceAllIn(s, m =>
        f(m.group(1)) match {
          case Some(rep) => Regex.quoteReplacement(rep)
          case None      => Regex.quoteReplacement(m.matched)
        })

    /** Rewrite every NexAU call in `message` to the target dialect, in the
      * reference's fixed order: batch → parallel sub-agents → parallel tools
      * → single sub-agent → single tool_use. Unparseable blocks pass through
      * untouched. */
    def convertMessage(message: String, format: String): String = {
      require(Supported.contains(format.toLowerCase),
        s"Unsupported format: $format. Supported: ${Supported.mkString(", ")}")
      var out = message
      out = sub(BatchBlock, out)(b => parseBatchAgent(b).map(emit(_, format)))
      out = sub(PaBlock, out) { body =>
        val parts =
          Pa.findAllMatchIn(body).flatMap(a => parseSubAgent(a.group(1))).toVector ++
            Pt.findAllMatchIn(body).flatMap(t => parseToolUse(t.group(1))).toVector
        if (parts.isEmpty) None else Some(parts.map(emit(_, format)).mkString("\n"))
      }
      out = sub(PtBlock, out) { body =>
        val parts = Pt.findAllMatchIn(body).flatMap(t => parseToolUse(t.group(1))).toVector
        if (parts.isEmpty) None else Some(parts.map(emit(_, format)).mkString("\n"))
      }
      out = sub(SubAgentBlock, out)(b => parseSubAgent(b).map(emit(_, format)))
      out = sub(ToolUseBlock, out)(b => parseToolUse(b).map(emit(_, format)))
      out
    }
  }

  // ---- NexXml ------------------------------------------------------------

  object NexXmlRef {
    import NexXml.{Json, ToolCall, parseParams, restoreClosingTags}

    private val ToolUse: Regex = "(?s)<tool_use>(.*?)</tool_use>".r
    private val SubAgent: Regex =
      "(?s)<sub-agent>\\s*<agent_name>([^<]+)</agent_name>\\s*<message>(.*?)</message>\\s*</sub-agent>".r
    private val ParallelTools: Regex =
      "(?s)<use_parallel_tool_calls>(.*?)</use_parallel_tool_calls>".r
    private val ParallelTool: Regex = "(?s)<parallel_tool>(.*?)</parallel_tool>".r
    private val ParallelAgents: Regex =
      "(?s)<use_parallel_sub_agents>(.*?)</use_parallel_sub_agents>".r
    private val ParallelAgent: Regex =
      "(?s)<parallel_agent>\\s*<agent_name>([^<]+)</agent_name>\\s*<message>(.*?)</message>\\s*</parallel_agent>".r
    private val BatchAgent: Regex =
      "(?s)<use_batch_agent>\\s*<agent_name>([^<]+)</agent_name>\\s*<input_data_source>(.*?)</input_data_source>\\s*<message>(.*?)</message>\\s*</use_batch_agent>".r
    private val ToolName: Regex = "(?s)<tool_name>\\s*([^<]+)\\s*</tool_name>".r
    private val ParamBlock: Regex = "(?s)<parameter>(.*?)</parameter>".r
    private val FileName: Regex = "<file_name>([^<]+)</file_name>".r
    private val DataFormat: Regex = "<format>([^<]+)</format>".r

    /** Extract every NexAU call form from assistant content, in the
      * reference's stage order (single tool_use → sub-agent → parallel tools
      * → parallel sub-agents [agents then tools] → batch agent). Matched text
      * is removed; unparseable tool_use blocks are left in place. `newId`
      * supplies call ids (deterministic under the engine's md5 scheme).
      * Returns (cleaned content, calls in extraction order). */
    def extractToolCalls(content: String, newId: () => String): (String, Vector[ToolCall]) = {
      val calls = new VectorBuilder[ToolCall]

      // robust XML first (F2's recovery chain — handles raw markup inside
      // values, truncated lines, CDATA), regex as the final fallback
      def parseSingleTool(block: String): Option[ToolCall] =
        RobustXml.parseToolUse(block)
          .map { case (name, params) => ToolCall(newId(), name, Json.obj(params)) }
          .orElse(ToolName.findFirstMatchIn(block).map { nameM =>
            val params = ParamBlock.findFirstMatchIn(block)
              .map(pm => parseParams(pm.group(1).trim))
              .getOrElse(Vector.empty)
            ToolCall(newId(), nameM.group(1).trim, Json.obj(params))
          })

      var out = restoreClosingTags(content)

      out = ToolUse.replaceAllIn(out, m =>
        parseSingleTool(m.group(1).strip) match {
          case Some(tc) => calls += tc; ""
          case None     => Regex.quoteReplacement(m.matched)
        })

      out = SubAgent.replaceAllIn(out, m => {
        calls += ToolCall(newId(), s"${m.group(1).trim}_sub_agent",
          Json.obj(Vector("message" -> m.group(2).trim)))
        ""
      })

      out = ParallelTools.replaceAllIn(out, m => {
        ParallelTool.findAllMatchIn(m.group(1))
          .flatMap(t => parseSingleTool(t.group(1).strip))
          .foreach(calls += _)
        ""
      })

      out = ParallelAgents.replaceAllIn(out, m => {
        val body = m.group(1)
        ParallelAgent.findAllMatchIn(body).foreach(a =>
          calls += ToolCall(newId(), s"${a.group(1).trim}_sub_agent",
            Json.obj(Vector("message" -> a.group(2).trim))))
        ParallelTool.findAllMatchIn(body)
          .flatMap(t => parseSingleTool(t.group(1).strip))
          .foreach(calls += _)
        ""
      })

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
  }

  // ---- XmlValidator ------------------------------------------------------

  object XmlValidatorRef {
    import XmlValidator.checkTagsBalanced

    private val ToolUseBlock: Regex = "(?s)<tool_use>(.*?)</tool_use>".r
    private val ToolNameIn: Regex = "(?s)<tool_name>(.*?)</tool_name>".r
    private val ParamIn: Regex = "(?s)<parameter>(.*?)</parameter>".r
    private val PtBlock: Regex =
      "(?s)<use_parallel_tool_calls>(.*?)</use_parallel_tool_calls>".r
    private val Pt: Regex = "(?s)<parallel_tool>(.*?)</parallel_tool>".r
    private val PaBlock: Regex =
      "(?s)<use_parallel_sub_agents>(.*?)</use_parallel_sub_agents>".r
    private val Pa: Regex = "(?s)<parallel_agent>(.*?)</parallel_agent>".r
    private val AgentNameIn: Regex = "(?s)<agent_name>(.*?)</agent_name>".r
    private val MessageIn: Regex = "(?s)<message>(.*?)</message>".r
    private val BaBlock: Regex = "(?s)<use_batch_agent>(.*?)</use_batch_agent>".r

    /** tool_use blocks must carry tool_name + parameter, and the parameter
      * body must itself be tag-balanced. */
    def validateToolUse(content: String): List[String] = {
      val blocks = ToolUseBlock.findAllMatchIn(content).toList
      if (blocks.isEmpty)
        return if (content.contains("<tool_use>"))
          List("Found unclosed <tool_use> tag")
        else Nil
      blocks.zipWithIndex.flatMap { case (m, i) =>
        val block = m.group(1)
        val where = s"tool_use block #${i + 1} (position ${m.start})"
        val nameErr =
          if (ToolNameIn.findFirstIn(block).isEmpty)
            List(s"$where missing <tool_name>...</tool_name>")
          else Nil
        ParamIn.findFirstMatchIn(block) match {
          case None => nameErr :+ s"$where missing <parameter>...</parameter>"
          case Some(pm) =>
            val inner = checkTagsBalanced(pm.group(1))
            if (inner.isEmpty) nameErr
            else nameErr ++ (s"$where parameter internal tag mismatch" ::
              inner.map("  └─ " + _))
        }
      }
    }

    /** use_parallel_tool_calls blocks need ≥1 well-formed parallel_tool, each
      * carrying tool_name + parameter. */
    def validateParallelTools(content: String): List[String] = {
      val blocks = PtBlock.findAllMatchIn(content).toList
      if (blocks.isEmpty)
        return if (content.contains("<use_parallel_tool_calls>"))
          List("Found unclosed <use_parallel_tool_calls> tag")
        else Nil
      blocks.zipWithIndex.flatMap { case (m, i) =>
        val where = s"use_parallel_tool_calls block #${i + 1} (position ${m.start})"
        val tools = Pt.findAllMatchIn(m.group(1)).toList
        if (tools.isEmpty) List(s"$where missing <parallel_tool>...</parallel_tool>")
        else tools.zipWithIndex.flatMap { case (t, j) =>
          val twhere = s"$where parallel_tool #${j + 1}"
          val body = t.group(1)
          (if (ToolNameIn.findFirstIn(body).isEmpty)
            List(s"$twhere missing <tool_name>") else Nil) ++
            (if (ParamIn.findFirstIn(body).isEmpty)
              List(s"$twhere missing <parameter>") else Nil)
        }
      }
    }

    /** use_parallel_sub_agents blocks need ≥1 parallel_agent or
      * parallel_tool; agents need agent_name + message. */
    def validateParallelAgents(content: String): List[String] = {
      val blocks = PaBlock.findAllMatchIn(content).toList
      if (blocks.isEmpty)
        return if (content.contains("<use_parallel_sub_agents>"))
          List("Found unclosed <use_parallel_sub_agents> tag")
        else Nil
      blocks.zipWithIndex.flatMap { case (m, i) =>
        val where = s"use_parallel_sub_agents block #${i + 1} (position ${m.start})"
        val body = m.group(1)
        val agents = Pa.findAllMatchIn(body).toList
        val tools = Pt.findAllMatchIn(body).toList
        if (agents.isEmpty && tools.isEmpty)
          List(s"$where missing <parallel_agent> or <parallel_tool>")
        else agents.zipWithIndex.flatMap { case (a, j) =>
          val awhere = s"$where parallel_agent #${j + 1}"
          val abody = a.group(1)
          (if (AgentNameIn.findFirstIn(abody).isEmpty)
            List(s"$awhere missing <agent_name>") else Nil) ++
            (if (MessageIn.findFirstIn(abody).isEmpty)
              List(s"$awhere missing <message>") else Nil)
        }
      }
    }

    /** use_batch_agent blocks need agent_name, input_data_source, message. */
    def validateBatchAgent(content: String): List[String] = {
      val blocks = BaBlock.findAllMatchIn(content).toList
      if (blocks.isEmpty)
        return if (content.contains("<use_batch_agent>"))
          List("Found unclosed <use_batch_agent> tag")
        else Nil
      blocks.zipWithIndex.flatMap { case (m, i) =>
        val where = s"use_batch_agent block #${i + 1} (position ${m.start})"
        val body = m.group(1)
        Seq(
          "agent_name" -> AgentNameIn, "message" -> MessageIn,
          "input_data_source" -> "(?s)<input_data_source>(.*?)</input_data_source>".r
        ).collect {
          case (tag, re) if re.findFirstIn(body).isEmpty => s"$where missing <$tag>"
        }.toList
      }
    }

    def validate(content: String): List[String] =
      checkTagsBalanced(content) ++ validateToolUse(content) ++
        validateParallelTools(content) ++ validateParallelAgents(content) ++
        validateBatchAgent(content)
  }

  // ---- RobustXml ---------------------------------------------------------

  object RobustXmlRef {
    private def escape(s: String): String =
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

    private val ParamBlock: Regex = "(?s)<parameter>(.*?)</parameter>".r
    private val ParamPair: Regex = "(?s)<(\\w+)>(.*?)</\\1>".r

    /** Strategy 3: escape markup that appears inside parameter VALUES. */
    def escapeParamValues(body: String): String =
      ParamBlock.findFirstMatchIn(body) match {
        case None => body
        case Some(pm) =>
          val fixed = ParamPair.replaceAllIn(pm.group(1), m => {
            val v = m.group(2)
            val rep =
              if (v.contains("<") && v.contains(">"))
                s"<${m.group(1)}>${escape(v)}</${m.group(1)}>"
              else m.matched
            Regex.quoteReplacement(rep)
          })
          body.replace(pm.group(1), fixed)
      }
  }
}
