package graft.core.text

import scala.util.Try
import scala.util.matching.Regex
import scala.xml.{Elem, XML}

/** Robust XML recovery for LLM-emitted tool-call bodies (F2, behavioral
  * reference `convert_spans_to_chatcompletion.py:814-933`): real model
  * output embeds raw `&`, `<`, `>` inside parameter values, drops closing
  * tags mid-line, or wraps values in CDATA. Five strategies, tried in
  * order; each returns the parsed `<root>`-wrapped element.
  *
  *   1. parse as-is;
  *   2. per-line closing-tag repair (an opening tag whose line ends
  *      without a close gets one);
  *   3. HTML-escape angle brackets inside parameter values only;
  *   4. escape everything, then re-expose the tags;
  *   5. regex-extract tool_name/parameter and rebuild a minimal document.
  */
object RobustXml extends Serializable {

  /** One secure SAX parser per thread (SAXParser reuse is sequential-only;
    * Spark tasks call this concurrently). DOCTYPE declarations are
    * rejected outright — the input is untrusted LLM output, and with no
    * DTD there is no entity to define, so billion-laughs expansion and
    * external-entity resolution are impossible rather than merely
    * configured off. A body carrying a DOCTYPE simply fails this strategy
    * and falls through the recovery chain like any other malformed body. */
  private val secureLoader =
    new ThreadLocal[scala.xml.factory.XMLLoader[Elem]] {
      override def initialValue(): scala.xml.factory.XMLLoader[Elem] = {
        val f = javax.xml.parsers.SAXParserFactory.newInstance()
        f.setNamespaceAware(false)
        f.setFeature(javax.xml.XMLConstants.FEATURE_SECURE_PROCESSING, true)
        f.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
        // belt-and-braces if a parser impl ever accepts a DTD anyway
        Try(f.setFeature("http://xml.org/sax/features/external-general-entities", false))
        Try(f.setFeature("http://xml.org/sax/features/external-parameter-entities", false))
        XML.withSAXParser(f.newSAXParser())
      }
    }

  private def tryParse(body: String): Option[Elem] =
    Try(secureLoader.get().loadString(s"<root>$body</root>")).toOption

  private val OpenOnly: Regex = "^<(\\w+)(?:\\s+[^>]*)?>\\s*([^<]*)\\s*$".r
  private val WellFormedLine: Regex = "<(\\w+)(?:\\s+[^>]*)?>([^<]*?)(?:</\\1>|$)".r

  /** Strategy 2: close any line that opens a tag and never closes it. */
  private[text] def repairLines(body: String): String =
    body.strip.linesIterator.map(_.trim).filter(_.nonEmpty).map { line =>
      if (WellFormedLine.findFirstIn(line).isDefined) line
      else OpenOnly.findFirstMatchIn(line) match {
        case Some(m) => s"<${m.group(1)}>${m.group(2)}</${m.group(1)}>"
        case None    => line
      }
    }.mkString("\n")

  private def escape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private val ParamPair: Regex = "(?s)<(\\w+)>(.*?)</\\1>".r

  /** Strategy 3: escape markup that appears inside parameter VALUES. */
  private[text] def escapeParamValues(body: String): String =
    NexTags.first(body, "parameter") match {
      case None => body
      case Some(param) =>
        val fixed = ParamPair.replaceAllIn(param, m => {
          val v = m.group(2)
          val rep =
            if (v.contains("<") && v.contains(">"))
              s"<${m.group(1)}>${escape(v)}</${m.group(1)}>"
            else m.matched
          Regex.quoteReplacement(rep)
        })
        body.replace(param, fixed)
    }

  private val ToolName: Regex = "(?is)<tool_name>\\s*([^<]+)\\s*</tool_name>".r

  /** Full fallback chain. */
  def parse(body: String): Option[Elem] =
    tryParse(body)
      .orElse(tryParse(repairLines(body)))
      .orElse(tryParse(escapeParamValues(body)))
      .orElse {
        // strategy 4: escape all, re-expose tag markers
        val escaped = body.replace("&", "&amp;")
          .replace("<", "&lt;").replace(">", "&gt;")
          .replace("&lt;", "<").replace("&gt;", ">")
        tryParse(escaped)
      }
      .orElse {
        // strategy 5: minimal rebuild from regex extraction. The parameter
        // body is kept RAW (reference parity): if it is itself unbalanced
        // this parse fails too and the caller's plain tag-grammar fallback
        // takes over (which maps unparseable bodies to a "content" param).
        val tool = ToolName.findFirstMatchIn(body).map(_.group(1).trim).getOrElse("unknown")
        val param = NexTags.first(body, "parameter")
          .map(p => s"<parameter>${p.strip}</parameter>").getOrElse("")
        tryParse(s"<tool_name>${escape(tool)}</tool_name>$param")
      }

  /** Parse a tool_use body into (tool_name, ordered params) through the
    * recovery chain; the caller falls back to pure-regex parsing when even
    * strategy 5 fails. CDATA and mixed content collapse to their text. */
  def parseToolUse(body: String): Option[(String, Vector[(String, String)])] =
    parse(body).flatMap { root =>
      (root \ "tool_name").headOption.map { nameNode =>
        val params = (root \ "parameter").headOption
          .map(_.child.collect {
            case e: Elem => e.label -> NexXml.htmlUnescape(e.text).trim
          }.toVector)
          .getOrElse(Vector.empty)
        (nameNode.text.trim, params)
      }
    }
}
