package graft.core.text

import scala.util.Try
import scala.util.matching.Regex

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** `NexTags` and its consumers against the regex implementations they
  * replaced (`NexRegexReference`), on seeded adversarial NexAU text: every
  * dialect's `convertMessage` (output or exception), `extractToolCalls`
  * (content, calls, ids drawn), `validate`'s error lists, RobustXml's
  * parameter-value escaping, and the scanner primitives against the two
  * regex shapes they stand for. */
class NexTagsSpec extends AnyFunSuite {
  import NexRegexReference._

  private val Fields = Seq("tool_name", "parameter", "agent_name", "message",
    "history", "input_data_source", "file_name", "format")
  private val Vocab = NexTags.BlockTags ++ Fields ++
    Seq("query", "path", "tool_result", "result", "br")

  /** Seeded NexAU messages: well-formed calls of every form, nested in
    * parameter and message values, with unclosed, duplicated and
    * upper-cased tags, blank names, entities, stray brackets, CJK text,
    * random truncation and tag soup. */
  private final class Adversary(seed: Long) {
    private val rnd = new scala.util.Random(seed)
    private def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    private def chance(p: Double): Boolean = rnd.nextDouble() < p
    private def rep(max: Int)(f: => String): String =
      (0 until rnd.nextInt(max + 1)).map(_ => f).mkString(ws)

    private def ws: String = pick(Seq("", "", "", " ", "\n", "  \n\t", "\r\n"))
    private def text: String = (0 until rnd.nextInt(4)).map(_ => pick(Seq(
      "word", "x y", "查询结果", "数据", "&amp;", "&lt;b&gt;", "&#x41;", "&#65;",
      "&quot;", "a < b", "c > d", "\"q\"", "back\\slash", " ", "\n", "<", ">",
      "&", "$1", "<!-- c -->", "<![CDATA[x<y]]>", "&#99999999999;", "&#x110000;"
    ))).mkString
    private def name: String = pick(Seq("search", "read_file", "say\"hi", "c\\d",
      "", " ", " \n\t ", "工具", "  padded  ", "a b", "x>y"))
    private def tag(t: String, closer: Boolean): String = {
      val raw = if (closer) s"</$t>" else s"<$t>"
      if (chance(0.03)) raw.toUpperCase else raw
    }

    /** `<t>body</t>`, sometimes unclosed, doubled or upper-cased. */
    private def el(t: String, body: String): String = {
      val r = rnd.nextDouble()
      if (r < 0.04) tag(t, false) + body
      else if (r < 0.06) tag(t, false) + body + tag(t, true) + tag(t, true)
      else if (r < 0.08) tag(t, false) + tag(t, false) + body + tag(t, true)
      else tag(t, false) + body + tag(t, true)
    }
    private def opt(p: Double)(s: => String): String = if (chance(p)) s else ""

    private def value(depth: Int): String =
      if (depth > 0 && chance(0.3)) call(depth - 1) else text
    private def params(depth: Int): String =
      if (chance(0.15)) text
      else rep(3)(el(pick(Seq("query", "path", "a", "数据", "br")), value(depth)))
    private def toolBody(depth: Int): String =
      ws + opt(0.92)(el("tool_name", ws + name + ws)) + ws +
        opt(0.9)(el("parameter", params(depth))) + ws
    private def agentBody(depth: Int): String =
      ws + opt(0.92)(el("agent_name", ws + name + ws)) + ws +
        opt(0.9)(el("message", value(depth))) + ws +
        opt(0.3)(el("history", text)) + ws

    def call(depth: Int): String = rnd.nextInt(6) match {
      case 0 | 1 => el("tool_use", toolBody(depth))
      case 2 => el("sub-agent", agentBody(depth))
      case 3 => el("use_parallel_tool_calls",
        ws + rep(3)(el("parallel_tool", toolBody(depth))) + ws)
      case 4 => el("use_parallel_sub_agents", ws + rep(3)(
        if (chance(0.7)) el("parallel_agent", agentBody(depth))
        else el("parallel_tool", toolBody(depth))) + ws)
      case _ => el("use_batch_agent",
        ws + opt(0.92)(el("agent_name", name)) + ws +
          opt(0.9)(el("input_data_source", ws + opt(0.8)(el("file_name", text)) +
            opt(0.6)(el("format", pick(Seq("jsonl", "csv", " ")))) + ws)) + ws +
          opt(0.9)(el("message", value(depth))) + ws)
    }

    private def soup: String = rep(12)(pick(Seq(
      tag(pick(Vocab), false), tag(pick(Vocab), true), text, "<", "</", ">")))

    def message: String = {
      val m = (0 to rnd.nextInt(3)).map(_ =>
        if (chance(0.75)) call(2) else soup).mkString(text)
      if (chance(0.15)) m.take(rnd.nextInt(m.length + 1)) else m
    }
  }

  /** Adversarial messages, then TextPropertySpec's generators (a balanced
    * tree, a tool_use, the tool_use nested in a tree and in itself). */
  private val Inputs: Vector[String] = {
    import TextPropertySpec.{balancedXml, toolCallXml}
    def sample[A](g: Gen[A], seed: Long): Option[A] =
      g.apply(Gen.Parameters.default, Seed(seed))
    val adversarial = (0 until 20000).map(i => new Adversary(i.toLong).message)
    val generated = (0 until 500).flatMap { i =>
      (sample(balancedXml, i.toLong), sample(toolCallXml, i.toLong)) match {
        case (Some(tree), Some((call, _))) =>
          Seq(tree, call, tree.patch(tree.indexOf("</") max 0, call, 0),
            call.replace("</parameter>", s"<query>$call</query></parameter>"))
        case _ => Nil
      }
    }
    (adversarial ++ generated).toVector
  }

  /** A value, or the exception it threw by class and message. */
  private def outcome[A](a: => A): Either[String, A] =
    Try(a).toEither.left.map(e => s"${e.getClass.getName}: ${e.getMessage}")

  private def assertSame[A](what: String, in: String)(ref: => A, now: => A): Unit = {
    val (r, n) = (outcome(ref), outcome(now))
    assert(r == n, s"$what differs on ${in.take(600)}")
  }

  test("every dialect's convertMessage matches the regex reference") {
    val formats = Dialects.Supported.toSeq.sorted
    var converted = 0
    Inputs.foreach { in =>
      formats.foreach { f =>
        assertSame(s"convertMessage($f)", in)(
          DialectsRef.convertMessage(in, f), Dialects.convertMessage(in, f))
      }
      if (outcome(Dialects.convertMessage(in, "qwen")).exists(_ != in)) converted += 1
    }
    info(s"${Inputs.size} inputs, $converted rewritten")
    assert(converted > Inputs.size / 3)
  }

  test("extractToolCalls matches the regex reference: content, calls, ids drawn") {
    def run(f: (String, () => String) => (String, Vector[NexXml.ToolCall]),
        in: String): (Either[String, (String, Vector[NexXml.ToolCall])], Int) = {
      var n = 0
      val out = outcome(f(in, () => { n += 1; s"call_$n" }))
      (out, n)
    }
    var withCalls = 0
    Inputs.foreach { in =>
      val ref = run(NexXmlRef.extractToolCalls, in)
      assert(ref == run(NexXml.extractToolCalls, in),
        s"extractToolCalls differs on ${in.take(600)}")
      if (ref._1.exists(_._2.nonEmpty)) withCalls += 1
    }
    info(s"${Inputs.size} inputs, $withCalls yielded calls")
    assert(withCalls > Inputs.size / 3)
  }

  test("validate's error lists match the regex reference, string for string") {
    var invalid = 0
    Inputs.foreach { in =>
      val ref = XmlValidatorRef.validate(in)
      assert(ref == XmlValidator.validate(in), s"validate differs on ${in.take(600)}")
      if (ref.nonEmpty) invalid += 1
    }
    info(s"${Inputs.size} inputs, $invalid invalid")
    assert(invalid > Inputs.size / 10 && invalid < Inputs.size)
  }

  test("RobustXml's parameter-value escaping matches the regex reference") {
    Inputs.foreach { in =>
      assertSame("escapeParamValues", in)(
        RobustXmlRef.escapeParamValues(in), RobustXml.escapeParamValues(in))
    }
  }

  test("the scanner yields what the block and name regexes yield, tag by tag") {
    val shapes = Vocab.map(t => (t,
      s"(?s)<$t>(.*?)</$t>".r, s"(?s)<$t>\\s*([^<]+)\\s*</$t>".r))
    def mark(body: String): Option[String] =
      if (body.length % 3 == 0) None else Some(s"[${body.length}$$]")
    Inputs.foreach { in =>
      shapes.foreach { case (t, block, name) =>
        val want = block.findAllMatchIn(in).map(m => (m.start, m.end, m.group(1))).toVector
        assert(NexTags.blocks(in, t).map(b => (b.start, b.end, b.body)) == want,
          s"blocks($t) on ${in.take(600)}")
        assert(NexTags.first(in, t) == want.headOption.map(_._3), s"first($t)")
        assert(NexTags.firstText(in, t) ==
          name.findFirstMatchIn(in).map(_.group(1).trim), s"firstText($t) on ${in.take(600)}")
        val rewritten = block.replaceAllIn(in, m =>
          Regex.quoteReplacement(mark(m.group(1)).getOrElse(m.matched)))
        assert(NexTags.rewrite(in, t)(mark) == rewritten, s"rewrite($t)")
      }
    }
  }

  test("a later pass rewrites a block an earlier pass emitted in a value") {
    val inner = "<tool_use><tool_name>ls</tool_name><parameter><p>/</p></parameter></tool_use>"
    val batch = "<use_batch_agent><agent_name>w</agent_name><input_data_source>" +
      s"<file_name>f</file_name></input_data_source><message>$inner</message></use_batch_agent>"
    val out = Dialects.convertMessage(batch, "qwen")
    assert(!out.contains("<tool_use>") && out.contains("<function=ls>"), out)
    assert(out == DialectsRef.convertMessage(batch, "qwen"))
  }
}
