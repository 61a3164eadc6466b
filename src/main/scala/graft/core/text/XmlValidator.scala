package graft.core.text

import scala.collection.mutable
import scala.util.matching.Regex

/** Structural validator for NexAU-XML assistant content (behavioral
  * reference: `converter/trace/filter_xml_errors.py:63-498`). Returns the
  * list of problems; an empty list means the content passes the
  * training-data quality gate (P9). Pure function — wrapped as the
  * `xml_valid` UDF and as the codegen Catalyst expression
  * `xml_valid_native` (graft.plans.XmlValid).
  */
object XmlValidator extends Serializable {

  private val Comment: Regex = "(?s)<!--.*?-->".r

  /** letters / digits / underscore / CJK / colon / hyphen tag names;
    * optional attributes; optional self-closing slash. */
  private val Tag: Regex =
    "<(/?)([a-zA-Z\\u4e00-\\u9fff][\\w\\u4e00-\\u9fff:-]*)(?:\\s+[^>]*)?\\s*(/?)>".r

  private val HtmlVoid = Set("br", "img", "hr", "input", "meta", "link")

  /** Stack-based open/close matching over every tag in the text. */
  def checkTagsBalanced(text: String): List[String] = {
    val cleaned = Comment.replaceAllIn(text, "")
    val stack = mutable.Stack.empty[(String, Int)]
    val errors = mutable.ListBuffer.empty[String]
    for (m <- Tag.findAllMatchIn(cleaned)) {
      val closing = m.group(1) == "/"
      val name = m.group(2)
      val selfClosing = m.group(3) == "/"
      val pos = m.start
      if (!selfClosing && !(HtmlVoid.contains(name.toLowerCase) && !closing)) {
        if (!closing) stack.push((name, pos))
        else if (stack.isEmpty)
          errors += s"Unmatched closing tag </$name> at position $pos"
        else {
          val (top, topPos) = stack.pop()
          if (top != name)
            errors += s"Tag mismatch: <$top> (position $topPos) vs </$name> (position $pos)"
        }
      }
    }
    // anything left open is an error, innermost last
    stack.toList.reverse.foreach { case (name, pos) =>
      errors += s"Unclosed tag <$name> at position $pos"
    }
    errors.toList
  }

  /** `check(label, body)` on each `<tag>` block. Top-level blocks (no
    * `where`) are labelled by position, and none at all while the opener
    * is present is the unclosed-opener error; blocks inside a block are
    * labelled by its `where` and their ordinal. */
  private def eachBlock(content: String, tag: String, where: String = "")(
      check: (String, String) => List[String]): List[String] = {
    val found = NexTags.blocks(content, tag)
    if (found.isEmpty && where.isEmpty && content.contains(s"<$tag>"))
      List(s"Found unclosed <$tag> tag")
    else found.toList.zipWithIndex.flatMap { case (blk, i) =>
      check(if (where.isEmpty) s"$tag block #${i + 1} (position ${blk.start})"
        else s"$where $tag #${i + 1}", blk.body)
    }
  }

  /** One `missing <child>` error per required child block `body` lacks. */
  private def missing(children: String*)(where: String, body: String): List[String] =
    children.filter(NexTags.first(body, _).isEmpty).map(c => s"$where missing <$c>").toList

  /** tool_use blocks need tool_name + a tag-balanced parameter body. */
  private def validateToolUse(content: String): List[String] =
    eachBlock(content, "tool_use") { (where, block) =>
      val nameErr = NexTags.first(block, "tool_name").fold(
        List(s"$where missing <tool_name>...</tool_name>"))(_ => Nil)
      NexTags.first(block, "parameter").map(checkTagsBalanced) match {
        case None => nameErr :+ s"$where missing <parameter>...</parameter>"
        case Some(Nil) => nameErr
        case Some(inner) => nameErr ++ (s"$where parameter internal tag mismatch" ::
          inner.map("  └─ " + _))
      }
    }

  /** use_parallel_tool_calls blocks need ≥1 parallel_tool, each carrying
    * tool_name + parameter. */
  private def validateParallelTools(content: String): List[String] =
    eachBlock(content, "use_parallel_tool_calls") { (where, body) =>
      if (NexTags.first(body, "parallel_tool").isEmpty)
        List(s"$where missing <parallel_tool>...</parallel_tool>")
      else eachBlock(body, "parallel_tool", where)(missing("tool_name", "parameter"))
    }

  /** use_parallel_sub_agents blocks need ≥1 parallel_agent or
    * parallel_tool; agents need agent_name + message. */
  private def validateParallelAgents(content: String): List[String] =
    eachBlock(content, "use_parallel_sub_agents") { (where, body) =>
      if (NexTags.first(body, "parallel_agent").isEmpty &&
        NexTags.first(body, "parallel_tool").isEmpty)
        List(s"$where missing <parallel_agent> or <parallel_tool>")
      else eachBlock(body, "parallel_agent", where)(missing("agent_name", "message"))
    }

  /** use_batch_agent blocks need agent_name, input_data_source, message. */
  private def validateBatchAgent(content: String): List[String] =
    eachBlock(content, "use_batch_agent")(missing("agent_name", "message", "input_data_source"))

  /** Full gate: balance plus every block validator. Empty = valid. */
  def validate(content: String): List[String] =
    checkTagsBalanced(content) ++ validateToolUse(content) ++
      validateParallelTools(content) ++ validateParallelAgents(content) ++
      validateBatchAgent(content)

  def isValid(content: String): Boolean = validate(content).isEmpty
}
