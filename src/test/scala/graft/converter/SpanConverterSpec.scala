package graft.converter

import graft.SparkSpec

/** End-to-end checks of the spans → ChatCompletion DAG over the
  * deterministic synthetic corpus (sf0.001). */
class SpanConverterSpec extends SparkSpec {

  private lazy val spans = Spans.synthesize(spark, sfDir).toDF.cache()
  private lazy val records = SpanConverter.convert(spark, spans).cache()

  test("one record per non-meta trace; gen_b (the last generation) wins") {
    val docs = graft.Tables.documents(spark, sfDir).count()
    val metaDocs = (0L until docs).count(_ % 5 == 0)
    assert(records.count() == docs - metaDocs)
    import spark.implicits._
    assert(records.map(_.span_id).collect().forall(_.endsWith("_gen_b")),
      "A1 must keep the chronologically-last generation per parent group")
  }

  test("agent attribution strips the Sub-agent prefix and drops meta") {
    import spark.implicits._
    val agents = records.map(_.agent_name.getOrElse("?")).distinct().collect()
    assert(agents.forall(a => a.endsWith("_agent") && !a.startsWith("Sub-agent:")))
    assert(!agents.contains("meta"))
  }

  test("tool results are re-roled and paired to their call ids") {
    val rec = records.head()
    val toolMsgs = rec.messages.filter(_.role == "tool")
    assert(toolMsgs.nonEmpty)
    val assistantCallIds = rec.messages
      .filter(_.role == "assistant")
      .flatMap(_.tool_calls)
      .flatMap("\"id\": \"([^\"]+)\"".r.findFirstMatchIn(_).map(_.group(1)))
    toolMsgs.foreach { tm =>
      assert(tm.tool_call_id.isDefined)
      assert(assistantCallIds.contains(tm.tool_call_id.get),
        "tool_call_id must reference an emitted assistant call")
      assert(tm.name.contains("search"))
    }
  }

  test("tool results pair by name when names carry a quote or a backslash") {
    Seq("say\"hi", "say\\hi").foreach { odd =>
      def call(n: String) =
        s"<tool_use><tool_name>$n</tool_name><parameter><q>x</q></parameter></tool_use>"
      def result(n: String) =
        s"<tool_result><tool_name>$n</tool_name><result>r_$n</result></tool_result>"
      val rec = SpanConverter.recordOf("t", "s", None, Seq(
        SpanMessage("assistant", Seq("a", odd, "c").map(call).mkString("\n")),
        SpanMessage("user", "Tool execution results:\n" +
          Seq(odd, "a", "c").map(result).mkString("\n"))), None)
      val paired = rec.messages.filter(_.role == "tool")
        .map(m => m.name.get -> m.tool_call_id.get)
      assert(paired == Seq(odd -> SpanConverter.callId("t", "s", 1),
        "a" -> SpanConverter.callId("t", "s", 0), "c" -> SpanConverter.callId("t", "s", 2)),
        s"name $odd")
    }
  }

  test("a parameter carrying a numeric entity outside Unicode converts") {
    val rec = SpanConverter.recordOf("t", "s", None, Seq(SpanMessage("assistant",
      "<tool_use><tool_name>w</tool_name><parameter><q>a &#x110000; b</q>" +
        "</parameter></tool_use>")), None)
    val calls = rec.messages.flatMap(_.tool_calls)
    assert(calls.size == 1, rec.messages)
    assert(calls.head.contains("\uFFFD") || calls.head.toLowerCase.contains("\\ufffd"),
      calls.head)
  }

  test("finish_reason reflects output tool calls") {
    import spark.implicits._
    val byReason = records.map(r => (r.finish_reason, r.span_id)).collect()
    // every synthesized gen_b output contains a call block => tool_calls
    assert(byReason.forall(_._1 == "tool_calls"))
  }

  test("system prompts had their tool docs stripped") {
    val sys = records.head().messages.find(_.role == "system").get
    assert(!sys.content.get.contains("TOOL_DEFINITIONS_START"))
    assert(sys.content.get.contains("helpful assistant"))
  }

  test("call ids are deterministic across runs") {
    import spark.implicits._
    val again = SpanConverter.convert(spark, Spans.synthesize(spark, sfDir).toDF)
    def callsOf(ds: org.apache.spark.sql.Dataset[SpanConverter.ChatRecord]) =
      ds.filter($"trace_id" === "trace_1").head().messages.flatMap(_.tool_calls)
    val a = callsOf(records)
    val b = callsOf(again)
    assert(a.nonEmpty && a == b)
  }

  test("validator accepts the synthesized corpus") {
    import spark.implicits._
    assert(records.map(_.valid).collect().forall(identity))
  }

  test("nexau mode keeps tool calls inline and restores tags only") {
    import spark.implicits._
    val rec = SpanConverter.convert(spark, spans, nexauMode = true)
      .filter($"trace_id" === "trace_1").head()
    assert(rec.finish_reason == "stop")
    assert(rec.n_tool_calls == 0)
    val assistant = rec.messages.filter(_.role == "assistant")
    assert(assistant.exists(_.content.exists(_.contains("<tool_use>"))),
      "tool calls must stay inline in nexau mode")
    assert(assistant.forall(_.tool_calls.isEmpty))
    // no tool re-roling: the results stay a user message
    assert(rec.messages.count(_.role == "tool") == 0)
  }

  test("record-level dialect map converts system/assistant only (F12)") {
    import spark.implicits._
    val nexau = SpanConverter.convert(spark, spans, nexauMode = true)
    val converted = SpanConverter.convertRecordsDialect(nexau, "qwen")
      .filter($"trace_id" === "trace_1").head()
    val original = nexau.filter($"trace_id" === "trace_1").head()
    converted.messages.zip(original.messages).foreach { case (c, o) =>
      assert(c.role == o.role)
      if (o.role == "user" || o.role == "tool")
        assert(c.content == o.content, s"${o.role} turns must pass through untouched")
    }
    val assistants = converted.messages.filter(_.role == "assistant")
    assert(assistants.exists(_.content.exists(_.contains("<function="))),
      "inline NexAU calls in assistant turns must be rewritten to qwen")
    assert(assistants.forall(_.content.exists(c => !c.contains("<tool_use>"))))
    // keep-original-on-error: an unsupported dialect throws at plan time
    intercept[IllegalArgumentException] {
      SpanConverter.convertRecordsDialect(nexau, "nope")
    }
  }

  test("observation counters ride along with the conversion action") {
    val (ds, obs) = SpanConverter.convertObserved(spark, spans)
    val n = ds.count()
    val row = obs.get
    assert(row("n_records") == n)
    assert(row("n_invalid") == 0L)
    assert(row("n_calls").asInstanceOf[Long] > 0L)
  }
}
