package graft.core.text

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests over the pure text core (SURVEY §5: "property-based
  * tests … tag-balance validator vs generated tag soups; extract/emit
  * round-trips"). Raw ScalaCheck Gens driven by a fixed-seed sampler (the
  * scalatest-scalacheck bridge isn't on the offline classpath). */
class TextPropertySpec extends AnyFunSuite {
  import TextPropertySpec._

  /** Deterministically sample `n` values and assert the property on each. */
  private def forAll[A](g: Gen[A], n: Int = 200)(check: A => Unit): Unit =
    (0 until n).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(i.toLong))
        .foreach(a => check(a))
    }

  private def forAll2[A, B](ga: Gen[A], gb: Gen[B])(check: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb))(t => check(t._1, t._2))

  // ---- validator vs generated tag soups ----------------------------------

  test("generated balanced XML always validates") {
    forAll(balancedXml) { xml =>
      assert(XmlValidator.checkTagsBalanced(xml).isEmpty, xml)
    }
  }

  test("dropping one closing tag always fails validation") {
    forAll2(balancedXml, name) { (xml, n) =>
      val soup = s"<$n>$xml" // one extra unclosed opener
      assert(XmlValidator.checkTagsBalanced(soup).nonEmpty, soup)
    }
  }

  // ---- restore-tags properties -------------------------------------------

  test("restoreClosingTags is idempotent") {
    val content = for {
      pre <- value
      n <- Gen.oneOf("tool_use", "sub-agent", "use_parallel_tool_calls")
      body <- value
      closed <- Gen.oneOf(true, false)
    } yield if (closed) s"$pre<$n>$body</$n>" else s"$pre<$n>$body"
    forAll(content) { s =>
      val once = NexXml.restoreClosingTags(s)
      assert(NexXml.restoreClosingTags(once) == once, s)
    }
  }

  // ---- extract/emit round-trips ------------------------------------------

  test("extracted parameters survive the XML round-trip") {
    forAll(toolCallXml) { case (xml, params) =>
      var n = -1
      val (clean, calls) = NexXml.extractToolCalls(xml, () => { n += 1; s"c$n" })
      assert(clean.isEmpty)
      assert(calls.size == 1)
      val wantJson = NexXml.Json.obj(params.map { case (k, v) => k -> v.trim })
      assert(calls.head.argumentsJson == wantJson, xml)
    }
  }

  test("dialect conversion of a tool_use removes the NexAU form and keeps the name") {
    forAll2(toolCallXml, Gen.oneOf(Dialects.Supported.toSeq)) { case ((xml, _), fmt) =>
      val out = Dialects.convertMessage(xml, fmt)
      assert(!out.contains("<tool_use>"), s"$fmt: $out")
      // the tool name must survive in every dialect's framing
      val tool = "<tool_name>(.*?)</tool_name>".r
        .findFirstMatchIn(xml).get.group(1)
      assert(out.contains(tool), s"$fmt lost the tool name: $out")
    }
  }

  test("json encoder round-trips through spark-compatible escaping") {
    forAll2(Gen.asciiPrintableStr, Gen.asciiPrintableStr) { (k, v) =>
      val json = NexXml.Json.obj(Vector(k -> v))
      // must parse as JSON: quotes/backslashes escaped exactly once
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = mapper.readTree(json)
      assert(node.get(k) != null && node.get(k).asText == v, json)
    }
  }
}

/** The generators, shared with `NexTagsSpec`'s differential inputs. */
object TextPropertySpec {
  val name: Gen[String] = for {
    h <- Gen.alphaLowerChar
    t <- Gen.listOfN(4, Gen.alphaNumChar)
  } yield (h :: t).mkString

  val value: Gen[String] =
    Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.const(' '))).map(_.mkString.trim)

  val balancedXml: Gen[String] = {
    def node(depth: Int): Gen[String] =
      if (depth <= 0) value
      else for {
        n <- name
        kids <- Gen.choose(0, 3).flatMap(k => Gen.listOfN(k, node(depth - 1)))
        txt <- value
      } yield s"<$n>$txt${kids.mkString}</$n>"
    Gen.choose(1, 3).flatMap(node)
  }

  val toolCallXml: Gen[(String, Vector[(String, String)])] = for {
    tool <- name
    nParams <- Gen.choose(0, 4)
    params <- Gen.listOfN(nParams, Gen.zip(name, value))
  } yield {
    val dedupedParams = params.toMap.toVector.sortBy(_._1) // unique keys
    val paramXml = dedupedParams.map { case (k, v) => s"<$k>$v</$k>" }.mkString
    (s"<tool_use><tool_name>$tool</tool_name><parameter>$paramXml</parameter></tool_use>",
      dedupedParams)
  }
}
