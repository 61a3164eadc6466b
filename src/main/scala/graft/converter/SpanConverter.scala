package graft.converter

import java.security.MessageDigest

import graft.core.text.{NexXml, TextOps, XmlValidator}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The converter DAG — spans → ChatCompletion training records
  * (SURVEY.md §3.3, the reference's core transform `convert_spans_file`
  * `convert_spans_to_chatcompletion.py:1761-1820`).
  *
  * Spark shape: project(pruned) → ONE shuffle keyed on trace_id →
  * per-trace group {P1/P3 filter, A1 last-gen-per-parent, J1–J3 agent
  * attribution, record-local map: F5 strip, F3 extract, J5 pairing, F9
  * finish_reason, P2 meta drop, P9/F13 validate}. Traces are bounded
  * (≤ a few hundred spans — the reference processes each wholly in
  * memory), so the group materialization is small and skew-free.
  */
object SpanConverter extends Serializable {

  final case class ChatMessage(
      role: String,
      content: Option[String],
      tool_calls: Seq[String], // each a serialized ToolCall JSON object
      tool_call_id: Option[String],
      name: Option[String])

  final case class ChatRecord(
      trace_id: String,
      span_id: String,
      agent_name: Option[String],
      messages: Seq[ChatMessage],
      finish_reason: String,
      n_tool_calls: Int,
      valid: Boolean)

  /** Deterministic call ids: call_<md5(trace:span:ordinal)> — the engine's
    * seeded replacement for the reference's uuid4 (SURVEY §7
    * "Nondeterminism"). */
  def callId(traceId: String, spanId: String, ordinal: Int): String = {
    val md = MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$traceId:$spanId:$ordinal".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    s"call_$hex"
  }

  /** The pruned per-span projection the conversion needs — everything
    * else is dropped before the one shuffle. */
  final case class SpanLite(
      trace_id: String,
      span_id: String,
      span_type: String,
      span_name: String,
      parentObservationId: Option[String],
      startTime: Option[String],
      input: Seq[SpanMessage],
      out_content: Option[String])

  /** P1/P3 + A1, trace-locally: generation spans with input, reduced to
    * the chronologically-last per (parent) group; missing startTime sorts
    * first (epoch), ties break on span_id — identical semantics to the
    * windowed spelling, computed inside one trace's spans. */
  def lastGenerationsLocal(spans: Seq[SpanLite]): Seq[SpanLite] =
    spans
      .filter(s => s.span_type == "GENERATION" &&
        s.span_name.contains(Spans.GenerationMarker) &&
        s.input != null && s.input.nonEmpty)
      .groupBy(s => s.parentObservationId.getOrElse(s.span_id))
      .valuesIterator
      .map(_.maxBy(s =>
        (s.startTime.getOrElse("1970-01-01T00:00:00Z"), s.span_id)))
      .toVector

  /** J1/J2/J3, trace-locally: walk parents until an agent-named SPAN,
    * "Sub-agent: " prefix stripped; bounded at 32 hops. */
  def resolveAgent(byId: Map[String, SpanLite], start: Option[String]): Option[String] = {
    @annotation.tailrec
    def walk(id: Option[String], hops: Int): Option[String] = id match {
      case Some(sid) if hops < 32 =>
        byId.get(sid) match {
          case Some(s) =>
            if (s.span_type == "SPAN")
              Some(s.span_name.stripPrefix("Sub-agent: ").trim)
            else walk(s.parentObservationId, hops + 1)
          case None => None
        }
      case _ => None
    }
    walk(start, 0)
  }

  /** The record-local conversion: strip system docs, extract tool calls
    * from assistant turns, re-role tool results with FIFO/by-name id
    * pairing (J5 — deliberately a sequential fold so row order inside the
    * record is preserved), derive finish_reason from the output turn. */
  def recordOf(traceId: String, spanId: String, agentName: Option[String],
      input: Seq[SpanMessage], outContent: Option[String]): ChatRecord = {
    var ordinal = 0
    def nextId(): String = { val id = callId(traceId, spanId, ordinal); ordinal += 1; id }

    // pass 1: per-turn transforms; assistant turns keep their calls for
    // the pairing below
    val staged = input.map { m =>
      m.role match {
        case "system" =>
          (ChatMessage("system", Some(TextOps.stripSysPromptSections(m.content)),
            Seq.empty, None, None), Vector.empty[NexXml.ToolCall])
        case "assistant" =>
          val (clean, calls) = NexXml.extractToolCalls(m.content, nextId _)
          (ChatMessage("assistant", Some(clean), calls.map(_.toJson), None, None), calls)
        case _ =>
          (ChatMessage(m.role, Some(m.content), Seq.empty, None, None),
            Vector.empty[NexXml.ToolCall])
      }
    }

    // pass 2: J5 pairing — queue of pending (id, name) calls, matched by
    // name first, else FIFO; unmatched results get a fresh id.
    val pending = scala.collection.mutable.Queue.empty[(String, String)]
    val paired = staged.flatMap { case (m, calls) =>
      if (m.role == "assistant" && calls.nonEmpty) {
        calls.foreach(tc => pending.enqueue((tc.id, tc.name)))
        Seq(m)
      } else if (m.role == "user" &&
        m.content.exists(_.startsWith("Tool execution results:"))) {
        val results = NexXml.parseToolResults(m.content.get)
        if (results.isEmpty) {
          val id = if (pending.nonEmpty) pending.dequeue()._1 else nextId()
          Seq(ChatMessage("tool", Some(
            m.content.get.replace("Tool execution results:", "").trim),
            Seq.empty, Some(id), Some("unknown_tool")))
        } else results.map { case (name, res) =>
          val idx = pending.indexWhere(_._2 == name)
          val id =
            if (idx >= 0) { val e = pending(idx); pending.remove(idx); e._1 }
            else if (pending.nonEmpty) pending.dequeue()._1
            else nextId()
          ChatMessage("tool", Some(res), Seq.empty, Some(id), Some(name))
        }
      } else Seq(m)
    }

    // output turn: extraction + finish_reason (F9)
    val (outClean, outCalls) = outContent
      .map(NexXml.extractToolCalls(_, nextId _))
      .getOrElse(("", Vector.empty))
    val response = ChatMessage("assistant",
      if (outClean.nonEmpty) Some(outClean) else None,
      outCalls.map(_.toJson), None, None)
    val finishReason = if (outCalls.nonEmpty) "tool_calls" else "stop"

    val allMessages = paired :+ response
    val valid = input.forall(m =>
      m.role != "assistant" || XmlValidator.isValid(m.content)) &&
      outContent.forall(XmlValidator.isValid)

    ChatRecord(traceId, spanId, agentName, allMessages, finishReason,
      allMessages.map(_.tool_calls.size).sum, valid)
  }

  /** NexAU-mode conversion (behavioral reference
    * `convert_spans_to_chatcompletion_nexau.py:118-202`): tool calls stay
    * INLINE in assistant content — the only transform is closing-tag
    * restoration on input assistant turns; no extraction, no tool-result
    * re-roling, finish_reason always "stop". */
  def recordOfNexau(traceId: String, spanId: String, agentName: Option[String],
      input: Seq[SpanMessage], outContent: Option[String]): ChatRecord = {
    val staged = input.map { m =>
      val content =
        if (m.role == "assistant") NexXml.restoreClosingTags(m.content)
        else m.content
      ChatMessage(m.role, Some(content), Seq.empty, None, None)
    }
    val response =
      ChatMessage("assistant", Some(outContent.getOrElse("")), Seq.empty, None, None)
    val allMessages = staged :+ response
    val valid = input.forall(m =>
      m.role != "assistant" || XmlValidator.isValid(m.content)) &&
      outContent.forall(XmlValidator.isValid)
    ChatRecord(traceId, spanId, agentName, allMessages, "stop", 0, valid)
  }

  /** Full DAG, P2 meta-drop included. `nexauMode` keeps tool calls inline
    * (the reference's per-framework converter override).
    *
    * Scale shape: ONE wide edge. A window+topology-join spelling needs the
    * source twice (column pruning makes the two subtrees non-identical, so
    * ReuseExchange can't dedup them) and pays three shuffles; instead the
    * pruned spans shuffle ONCE on trace_id and everything downstream —
    * A1 last-per-parent, J1–J3 agent resolution, the record-local message
    * transform, the P2 meta drop — runs inside the group. Traces are at
    * most a few hundred spans (the reference holds each wholly in memory,
    * file-at-a-time), so per-trace materialization is bounded and skew-
    * free by construction. */
  def convert(spark: SparkSession, spans: DataFrame,
      nexauMode: Boolean = false): Dataset[ChatRecord] = {
    import spark.implicits._
    spans.select(
      col("trace_id"), col("span_id"), col("span_type"), col("span_name"),
      col("parentObservationId"), col("startTime"), col("input"),
      col("output.content").as("out_content"))
      .as[SpanLite]
      .groupByKey(_.trace_id)
      .flatMapGroups { (traceId, it) =>
        val all = it.toVector
        val byId = all.iterator.map(s => s.span_id -> s).toMap
        lastGenerationsLocal(all)
          .sortBy(_.span_id)
          .iterator
          .flatMap { g =>
            val agent = resolveAgent(byId, g.parentObservationId)
            if (agent.contains("meta")) None // P2
            else Some(
              if (nexauMode) recordOfNexau(traceId, g.span_id, agent, g.input, g.out_content)
              else recordOf(traceId, g.span_id, agent, g.input, g.out_content))
          }
      }
  }

  /** F12: record-level dialect conversion — rewrite ONLY system and
    * assistant message content to the target dialect; user and tool turns
    * pass through untouched (they are user input / environment output, not
    * model behavior — behavioral reference
    * `convert_trace_tool_calls.py:55-96`). A message whose conversion
    * throws keeps its original content, the reference's keep-original-on-
    * error semantics. Narrow map: no shuffle, safe at any scale. */
  def convertRecordsDialect(records: Dataset[ChatRecord], format: String): Dataset[ChatRecord] = {
    import records.sparkSession.implicits._
    require(graft.core.text.Dialects.Supported.contains(format.toLowerCase),
      s"Invalid format: $format")
    records.map(recordDialect(_, format))
  }

  /** The per-record form of [[convertRecordsDialect]]. */
  def recordDialect(r: ChatRecord, format: String): ChatRecord =
    r.copy(messages = r.messages.map { m =>
      if ((m.role == "system" || m.role == "assistant") && m.content.exists(_.nonEmpty))
        try m.copy(content = m.content.map(
          graft.core.text.Dialects.convertMessage(_, format)))
        catch { case _: Exception => m }
      else m
    })

  /** F10 as a record-level job: normalize every serialized tool call's
    * `function.arguments` from a JSON string to the object it encodes
    * (unparseable → {}), leaving everything else untouched. Narrow map. */
  def normalizeArgumentsJob(records: Dataset[ChatRecord]): Dataset[ChatRecord] = {
    import records.sparkSession.implicits._
    records.map(r => r.copy(messages = r.messages.map(m =>
      if (m.tool_calls.isEmpty) m
      else m.copy(tool_calls = m.tool_calls.map(NexXml.normalizeArguments)))))
  }

  /** md5 hex of a UTF-8 string (matches Spark's `md5()` builtin). */
  def md5Hex(s: String): String = md5Hex(s.getBytes("UTF-8"))

  /** md5 hex of raw bytes — the integrity-hash form: never round-trip
    * binary payloads through a String (invalid UTF-8 collapses to U+FFFD
    * and distinct payloads can collide). */
  def md5Hex(bytes: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(bytes)
      .map("%02x".format(_)).mkString

  /** A11: progress/quality counters as a query observation — converted
    * rows, invalid rows, and total extracted calls ride along with
    * whatever action the caller runs (no second pass, no accumulator
    * races; `observation.get` after the action). */
  def convertObserved(spark: SparkSession, spans: DataFrame)
      : (Dataset[ChatRecord], org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation("converter")
    import spark.implicits._
    val observed = convert(spark, spans).toDF
      .observe(obs,
        count(lit(1)).as("n_records"),
        sum(when(col("valid"), 0L).otherwise(1L)).as("n_invalid"),
        sum(col("n_tool_calls")).as("n_calls"))
      .as[ChatRecord]
    (observed, obs)
  }
}
