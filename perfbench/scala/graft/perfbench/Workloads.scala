package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.converter.SpanConverter
import graft.converter.SpanConverter.ChatRecord
import graft.gyrfalcon.SynthesisPipeline
import graft.queries.{CurationPipeline, Dedup, Retrieval, Similarity}
import graft.services.StubServiceClient
import graft.sources.{AnnIndex, BandIndex, Bucketing, IvfIndex, PostingsIndex, StoreHealth}
import graft.streaming.SpansStream

/** What a workload sees of the run: the session, its input dir (written by
  * gen.py), a scratch dir for this session's outputs, and the tracer. */
final class Ctx(val spark: SparkSession, val data: String, val work: String,
    val tracer: Tracer) {
  def json(path: String): JsonNode = new ObjectMapper().readTree(new java.io.File(s"$data/$path"))
}

/** One closed-loop op. `run` does the timed work and hands back the
  * untimed check of its output. */
final case class Op(id: String, kind: String, family: String, items: Long,
    run: () => () => Boolean)

trait Workload {
  /** Stand the workload's state up in a fresh session, one warm-up op
    * included. */
  def setup(ctx: Ctx): Unit
  /** The i-th op of the closed loop; None when the op script is spent. */
  def op(ctx: Ctx, i: Int): Option[Op]
  /** Ops the measured phase runs at least, whatever the clock says. */
  def minOps: Int
  /** Ops of the fixed sequence a traced run replays. */
  def tracedOps: Int
  /** Ops per repeat of the op mix; a measured phase ends on a boundary. */
  def cycle: Int = 1
  /** Extra result entries for the Python side (e.g. rows to compare). */
  def extraOut(ctx: Ctx): Map[String, Any] = Map.empty
  /** Per-layer metrics the traced run measures outside the op loop. */
  def layerMetrics(ctx: Ctx, tel: Telemetry): Map[String, Double] = Map.empty
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "trace_convert" => new TraceConvert
    case "curate" => new Curate
    case "serve" => new Serve
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def strings(n: JsonNode): Seq[String] = n.elements.asScala.map(_.asText).toSeq
  def longs(n: JsonNode): Seq[Long] = n.elements.asScala.map(_.asLong).toSeq

  def timeNs[T](body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = body
    (r, System.nanoTime() - t0)
  }
}

import Workloads._

/** trace_convert: gyrfalcon query synthesis, then the span JSONL files
  * through SpansStream.runOnce into a parquet landing zone, then the
  * landed records re-encoded into every dialect. One op = one pass over
  * the whole input. */
final class TraceConvert extends Workload {
  private val dialects = graft.core.text.Dialects.Supported.toSeq.sorted
  private var expected: Map[String, Seq[Long]] = Map.empty
  private var warmExpected: Map[String, Seq[Long]] = Map.empty
  private var nTraces = 0L
  private var passes = 0
  private var lastLanded = ""
  private var lastKept = 0L
  private var lastRounds = 0
  val minOps = 2
  val tracedOps = 1

  private def summary(node: JsonNode): Map[String, Seq[Long]] =
    node.fields.asScala.map(e => e.getKey -> longs(e.getValue)).toMap

  def setup(ctx: Ctx): Unit = {
    val synth = ctx.json("synth.json")
    val exp = ctx.json("expected.json")
    expected = summary(exp.get("per_trace"))
    warmExpected = summary(exp.get("warm_per_trace"))
    nTraces = exp.get("traces").asLong
    val warm = pass(ctx, s"${ctx.data}/warm", synth.get("warm_rounds").asInt, "warm")
    if (!warm.run()()) throw new IllegalStateException("trace_convert warm-up pass failed its check")
  }

  def op(ctx: Ctx, i: Int): Option[Op] =
    Some(pass(ctx, s"${ctx.data}/spans", ctx.json("synth.json").get("rounds").asInt, s"pass$i"))

  private def pass(ctx: Ctx, spansDir: String, nRounds: Int, tag: String): Op = {
    val spark = ctx.spark
    import spark.implicits._
    val synth = ctx.json("synth.json")
    val want = if (tag == "warm") warmExpected else expected
    Op(s"trace_convert.$tag", "pass", "convert",
      if (tag == "warm") warmExpected.size.toLong else nTraces, () => {
        val t = ctx.tracer
        val kept = t.span("gyrfalcon", "SynthesisPipeline.synthesize") {
          SynthesisPipeline.synthesize(
            SynthesisPipeline.rounds(spark, strings(synth.get("paths")),
              strings(synth.get("personas")), nRounds),
            StubServiceClient).count()
        }
        passes += 1
        lastKept = kept
        lastRounds = nRounds
        val out = s"${ctx.work}/landing/$tag-$passes"
        t.span("streaming", "SpansStream.runOnce") {
          SpansStream.runOnce(spark, spansDir, out, s"${ctx.work}/ckpt/$tag-$passes")
        }
        lastLanded = out
        val records = spark.read.parquet(out).drop("batch_id").as[ChatRecord]
        val perDialect = t.span("converter", "SpanConverter.convertRecordsDialect") {
          dialects.map(d => SpanConverter.convertRecordsDialect(records, d)
              .map(r => (d, r.messages.count(m => m.role == "assistant" &&
                m.content.exists(_.contains("<tool_use>")))))
              .toDF("dialect", "leftover"))
            .reduce(_ unionByName _)
            .groupBy("dialect")
            .agg(count(lit(1)).as("n"), sum("leftover").as("leftover"))
            .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
        }
        () => {
          val got = records.groupBy("trace_id").agg(
              count(lit(1)).as("n"),
              sum(when(col("valid"), 1L).otherwise(0L)).as("valid"),
              sum(when(col("valid"), col("n_tool_calls").cast("long")).otherwise(0L)).as("calls"),
              sum(when(col("finish_reason") === "tool_calls", 1L).otherwise(0L)).as("tool_finish"))
            .collect().map(r => r.getString(0) ->
              Seq(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
          val nRecords = want.values.map(_.head).sum
          val wantNonEmpty = want.filter(_._2.head > 0)
          val ok = got == wantNonEmpty && kept > 0 &&
            dialects.forall(d => perDialect.get(d).contains((nRecords, 0L)))
          if (!ok) System.err.println(s"[perfbench] trace_convert check failed: " +
            s"${got.size} traces landed, ${wantNonEmpty.size} expected, " +
            s"first mismatch ${wantNonEmpty.find(e => !got.get(e._1).contains(e._2))
              .map(e => s"${e._1} want ${e._2} got ${got.get(e._1)}")}, dialects $perDialect")
          ok
        }
      })
  }

  override def layerMetrics(ctx: Ctx, tel: Telemetry): Map[String, Double] = {
    val spark = ctx.spark
    import spark.implicits._
    val records = spark.read.parquet(lastLanded).drop("batch_id").as[ChatRecord]
    val n = records.count().toDouble
    val valid = records.filter(_.valid).count().toDouble
    val sample = records.limit(2000).collect().toSeq
    val assistant = sample.flatMap(_.messages.filter(_.role == "assistant").flatMap(_.content))
    val toolMsgs = sample.flatMap(_.messages.filter(_.role == "tool").flatMap(_.content))
      .map(c => "Tool execution results:\n<tool_result><tool_name>search</tool_name><result>" +
        c + "</result></tool_result>")
    // NexAU XML the converter parses: rebuilt from the landed calls
    val xml = sample.flatMap(_.messages.flatMap(_.tool_calls)).map { tc =>
      val name = "\"name\": \"([^\"]+)\"".r.findFirstMatchIn(tc).map(_.group(1)).getOrElse("x")
      s"<tool_use>\n<tool_name>$name</tool_name>\n<parameter>\n<query>q</query>\n</parameter>\n</tool_use>"
    }
    def nsPer[T](xs: Seq[String])(f: String => T): Double =
      if (xs.isEmpty) 0.0
      else {
        xs.foreach(f) // warm
        val (_, ns) = timeNs(xs.foreach(f))
        ns.toDouble / xs.size
      }
    var ord = 0
    Map(
      "gyrfalcon.rounds" -> lastRounds.toDouble,
      "gyrfalcon.kept_ratio" -> (if (lastRounds > 0) lastKept.toDouble / lastRounds else 0.0),
      "converter.records" -> n,
      "converter.valid_ratio" -> (if (n > 0) valid / n else 0.0),
      "core.text.NexXml.extractToolCalls.ns_per_record" ->
        nsPer(xml)(graft.core.text.NexXml.extractToolCalls(_, () => { ord += 1; s"c$ord" })),
      "core.text.NexXml.parseToolResults.ns_per_record" ->
        nsPer(toolMsgs)(graft.core.text.NexXml.parseToolResults),
      "core.text.XmlValidator.isValid.ns_per_record" ->
        nsPer(xml)(graft.core.text.XmlValidator.isValid),
      "core.text.Dialects.convertMessage.ns_per_record" ->
        nsPer(xml)(m => dialects.foreach(graft.core.text.Dialects.convertMessage(m, _))),
      "core.text.TextOps.stripSysPromptSections.ns_per_record" ->
        nsPer(assistant)(graft.core.text.TextOps.stripSysPromptSections))
  }
}

/** curate: one batch curation pass over the seeded corpus — q124's stage
  * accounting, its fuzzy stage being the MinHash-LSH sweep and cluster
  * resolve. One op = one pass. */
final class Curate extends Workload {
  private val Stages = Seq("admitted", "scored", "exact_kept", "fuzzy_kept",
    "clean", "capped", "split")
  private var first: Option[Seq[Row]] = None
  private var warmRows: Seq[Row] = Nil
  private var nDocs = 0L
  private var arriving: (Long, Long) = (0L, 0L)
  val minOps = 2
  val tracedOps = 1

  private def query(name: String) =
    CurationPipeline.all.find(_.name == name)
      .getOrElse(throw new IllegalStateException(s"query $name is not registered"))

  def setup(ctx: Ctx): Unit = {
    val exp = ctx.json("expected.json")
    nDocs = exp.get("corpus").get("docs").asLong
    arriving = (exp.get("corpus").get("arriving_docs").asLong,
      exp.get("corpus").get("arriving_tokens").asLong)
    warmRows = runPass(ctx, s"${ctx.data}/warm")
  }

  private def runPass(ctx: Ctx, dir: String): Seq[Row] =
    ctx.tracer.span("queries", "CurationPipeline.accounting") {
      CurationPipeline.accounting(ctx.spark, dir).collect().toSeq
    }

  def op(ctx: Ctx, i: Int): Option[Op] = Some(Op(s"curate.pass$i", "pass", "curate", nDocs, () => {
    val rows = runPass(ctx, s"${ctx.data}/corpus")
    () => {
      val counts = rows.map(_.getAs[Long]("n_docs"))
      val arr = rows.head
      val splitDocs = rows.drop(7).map(_.getAs[Long]("n_docs")).sum
      val ok = rows.size == 10 &&
        (arr.getAs[Long]("n_docs"), arr.getAs[Long]("n_tokens")) == arriving &&
        counts.take(7).zip(counts.slice(1, 7)).forall { case (a, b) => a >= b } &&
        splitDocs == counts(6) && counts(4) < counts(3) && first.forall(_ == rows)
      if (first.isEmpty) first = Some(rows)
      if (!ok) System.err.println(s"[perfbench] curate pass check failed: ${rows.mkString(" ")}")
      ok
    }
  }))

  /** The warm-up pass's accounting rows; run.py compares them with q124's
    * DuckDB oracle SQL over the same seeded warm-up corpus. */
  override def extraOut(ctx: Ctx): Map[String, Any] =
    Map("oracle_sql" -> query("q124_curation_pipeline").oracle.get,
      "accounting" -> warmRows.map(r => Map(
        "stage_ord" -> r.getAs[Int]("stage_ord"), "stage" -> r.getAs[String]("stage"),
        "n_docs" -> r.getAs[Long]("n_docs"), "n_tokens" -> r.getAs[Long]("n_tokens"),
        "effective_tokens" -> r.getAs[Long]("effective_tokens"))))

  override def layerMetrics(ctx: Ctx, tel: Telemetry): Map[String, Double] = {
    val spark = ctx.spark
    val dir = s"${ctx.data}/corpus"
    // each stage boundary materialized alone from the raw corpus (its
    // prefix included): the un-checkpointed frames of stages()
    val st = CurationPipeline.stages(spark, dir, materialize = false)
    val frames = Seq(st.admitted, st.scored, st.exactKept, st.fuzzyKept,
      st.clean, st.capped, st.split)
    val stageMetrics = Stages.zip(frames).flatMap { case (name, df) =>
      val (rows, ns) = timeNs(df.count())
      Seq(s"queries.stage.$name.s" -> ns / 1e9, s"queries.stage.$name.rows_out" -> rows.toDouble)
    }
    // the LSH sweep's candidate and verified pair volumes
    val docs = graft.Tables.documents(spark, dir).select("doc_id", "text")
    val sh = Dedup.shingleOn(spark, docs).localCheckpoint(true)
    val bands = Dedup.bandRowsOf(Dedup.minhashSigsOf(spark, sh)).localCheckpoint(true)
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("bench_id"), col("y.doc_id").as("doc_id")).distinct()
      .localCheckpoint(true)
    val nCand = cand.count().toDouble
    val nVerified = Dedup.crossVerify(cand, sh, sh).count().toDouble
    // compiled kernels alone, projected to noop
    val n = docs.count().toDouble
    val textDocs = docs.localCheckpoint(true)
    def kernel(df: DataFrame, e: String): Double = {
      df.select(expr(e)).write.format("noop").mode("overwrite").save() // warm
      val (_, ns) = timeNs(df.select(expr(e)).write.format("noop").mode("overwrite").save())
      ns / n
    }
    stageMetrics.toMap ++ Map(
      "queries.lsh.candidate_pairs" -> nCand,
      "queries.lsh.verified_pairs" -> nVerified,
      "queries.lsh.verify_ratio" -> (if (nCand > 0) nVerified / nCand else 0.0),
      "plans.WordShingles.ns_per_row" -> kernel(textDocs, "word_shingles(text, 3)"),
      "plans.MinHashSigs.ns_per_row" -> kernel(sh, "minhash_sigs(sh, 12)"))
  }
}

/** serve: the four persisted stores built at setup, then a seeded op
  * script of query-scale probes interleaved with appends, deferred
  * deletes, compacts and deletes. */
final class Serve extends Workload {
  private val Dim = 64
  // the stores are query scale: a few buckets keep probes few-task
  private val Buckets = 4
  private var script: Seq[JsonNode] = Nil
  private val liveDocs = mutable.LinkedHashSet.empty[Long]
  private val liveVecs = mutable.LinkedHashSet.empty[Long]
  private var corpusDocs: DataFrame = _
  private var poolDocs: DataFrame = _
  private var allVecs: DataFrame = _
  private var qid = 1000000000L
  private val recomputed = mutable.Set.empty[String]
  private var sampled: Set[String] = Set.empty
  val minOps = 5
  val tracedOps = 5
  // four probes (one per family) and one write
  override val cycle = 5
  // bytes appended by users (text bytes, 4 per vector component)
  private var userBytes = 0L

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val base = s"${ctx.data}/base"
    val ops = ctx.json("ops.json")
    script = ops.get("ops").elements.asScala.toSeq
    sampled = strings(ops.get("recompute")).toSet
    ctx.tracer.span("sources", "build") {
      PostingsIndex.build(spark, base, "post", buckets = Buckets)
      AnnIndex.build(spark, base, "ann", buckets = Buckets)
      IvfIndex.build(spark, base, "ivf", buckets = Buckets)
      BandIndex.build(spark, base, "band", buckets = Buckets)
    }
    val baseDocs = graft.Tables.documents(spark, base).select("doc_id", "text")
    poolDocs = spark.read.parquet(s"${ctx.data}/pool_docs.parquet").localCheckpoint(true)
    corpusDocs = baseDocs.unionByName(poolDocs).localCheckpoint(true)
    allVecs = graft.Tables.embeddings(spark, base).select("vec_id", "label", "embedding")
      .unionByName(spark.read.parquet(s"${ctx.data}/pool_vecs.parquet")
        .select("vec_id", "label", "embedding"))
      .localCheckpoint(true)
    liveDocs.clear(); liveVecs.clear(); recomputed.clear()
    liveDocs ++= baseDocs.select("doc_id").collect().map(_.getLong(0)).sorted
    liveVecs ++= graft.Tables.embeddings(spark, base).select("vec_id").collect().map(_.getLong(0)).sorted
  }

  def op(ctx: Ctx, i: Int): Option[Op] =
    if (i >= script.size) None
    else {
      val o = script(i)
      Some(o.get("op").asText match {
        case "probe" => probe(ctx, o, s"serve.$i.probe.${o.get("family").asText}")
        case kind => write(ctx, o, s"serve.$i.$kind")
      })
    }

  private def docsOf(ids: Seq[Long]): DataFrame =
    poolDocs.filter(col("doc_id").isin(ids: _*))

  private def vecsOf(ids: Seq[Long]): DataFrame =
    allVecs.filter(col("vec_id").isin(ids: _*))

  private def queryVec(ctx: Ctx, src: Long, id: Long): DataFrame =
    Similarity.normedVectorsOf(ctx.spark,
      allVecs.filter(col("vec_id") === src).withColumn("vec_id", lit(id)))

  /** Run one family's probe; rows as (query, neighbor, score) triples. */
  private def probeRows(ctx: Ctx, fam: String, o: JsonNode, id: Long): Seq[(Long, Long, Double)] = {
    val spark = ctx.spark
    import spark.implicits._
    val src = o.get("src").asLong
    ctx.tracer.span("sources", s"$fam.probe") {
      fam match {
        case "postings" =>
          PostingsIndex.topKFor(spark, "post", Seq((id, o.get("text").asText)).toDF("query_id", "text"), 5)
            .select("query_id", "doc_id", "score").as[(Long, Long, Double)].collect().toSeq
        case "band" =>
          BandIndex.nearDupsFor(spark, "band", corpusDocs,
              Seq((id, o.get("text").asText)).toDF("doc_id", "text"))
            .select("bench_id", "doc_id", "jaccard").as[(Long, Long, Double)].collect().toSeq
        case "ann" =>
          val (t, b) = AnnIndex.recordedBanding(spark, "ann")
          AnnIndex.topKFor(spark, "ann", Similarity.signatureRowsOf(queryVec(ctx, src, id), t, b), 5)
            .select("query_id", "neighbor_id", "cosine").as[(Long, Long, Double)].collect().toSeq
        case "ivf" =>
          IvfIndex.topKFor(spark, "ivf", queryVec(ctx, src, id)
              .select(col("vec_id").as("query_id"), col("v"), col("nrm")), 3)
            .select("query_id", "neighbor_id", "cosine").as[(Long, Long, Double)].collect().toSeq
      }
    }
  }

  /** A probe op. Every probe's rows are checked against the live set and
    * its source; the first probe of the family the seed picks is also
    * recomputed brute force, right after it ran, on the same store state. */
  private def probe(ctx: Ctx, o: JsonNode, opId: String): Op = {
    val fam = o.get("family").asText
    qid += 1
    val id = qid
    Op(opId, "probe", fam, 1L, () => {
      val rows = probeRows(ctx, fam, o, id)
      val src = o.get("src").asLong
      () => {
        val live = if (fam == "postings" || fam == "band") liveDocs else liveVecs
        val ok = rows.nonEmpty && rows.forall(r => r._1 == id && live.contains(r._2)) && (fam match {
          case "postings" => true
          case "band" => rows.exists(r => r._2 == src && r._3 == 1.0)
          case _ => rows.head._2 == src && rows.head._3 > 0.999999
        }) && (!sampled(fam) || !recomputed.add(fam) || matchesRecompute(ctx, fam, o, id, rows))
        if (!ok) System.err.println(s"[perfbench] $opId check failed: src $src rows ${rows.take(5)}")
        ok
      }
    })
  }

  private def write(ctx: Ctx, o: JsonNode, opId: String): Op = {
    val spark = ctx.spark
    import spark.implicits._
    val kind = o.get("op").asText
    Op(opId, "write", kind, 1L, () => {
      val t = ctx.tracer
      kind match {
        case "append" =>
          val d = longs(o.get("doc_ids")); val v = longs(o.get("vec_ids"))
          val docs = docsOf(d).localCheckpoint(true)
          val vecs = vecsOf(v).localCheckpoint(true)
          t.span("sources", "append") {
            PostingsIndex.appendDocs("post", docs)
            BandIndex.appendDocs("band", docs)
            AnnIndex.appendVectors("ann", vecs)
            IvfIndex.appendVectors("ivf", vecs)
          }
          liveDocs ++= d; liveVecs ++= v
          () => {
            userBytes += docs.select(sum(length(col("text")))).head.getLong(0) + v.size * 4L * Dim
            true
          }
        case "delete" | "delete_deferred" =>
          val d = longs(o.get("doc_ids")).toDF("doc_id")
          val v = longs(o.get("vec_ids")).toDF("vec_id")
          t.span("sources", kind) {
            if (kind == "delete") {
              PostingsIndex.delete(spark, "post", d); BandIndex.delete(spark, "band", d)
              AnnIndex.delete(spark, "ann", v); IvfIndex.delete(spark, "ivf", v)
            } else {
              PostingsIndex.deleteDeferred(spark, "post", d); BandIndex.deleteDeferred(spark, "band", d)
              AnnIndex.deleteDeferred(spark, "ann", v); IvfIndex.deleteDeferred(spark, "ivf", v)
            }
          }
          liveDocs --= longs(o.get("doc_ids")); liveVecs --= longs(o.get("vec_ids"))
          () => true
        case "compact" =>
          t.span("sources", "compact") {
            PostingsIndex.compact(spark, "post")
            Seq("ann", "ivf", "band").foreach(Bucketing.compact(spark, _))
          }
          () => true
      }
    })
  }

  /** The probe's rows against the brute-force recompute spelling on the
    * same store state: BM25 over the live corpus (q133's shape), MinHash
    * pairs over the live corpus (q138's), exact cosine over the live
    * vectors (q34's). */
  private def matchesRecompute(ctx: Ctx, fam: String, o: JsonNode, id: Long,
      rows: Seq[(Long, Long, Double)]): Boolean = {
    val spark = ctx.spark
    import spark.implicits._
    def sorted(xs: Seq[(Long, Long, Double)]) = xs.sortBy(r => (r._2, r._3))
    lazy val docsLive = corpusDocs.filter(col("doc_id").isin(liveDocs.toSeq: _*))
    fam match {
      case "postings" =>
        val q = Seq((id, o.get("text").asText)).toDF("doc_id", "text")
        sorted(rows) == sorted(Retrieval.bm25On(
            Retrieval.tokenizedDocsOf(q).withColumnRenamed("doc_id", "query_id"),
            Retrieval.tokenizedDocsOf(docsLive), 5)
          .select("query_id", "doc_id", "score").as[(Long, Long, Double)].collect().toSeq)
      case "band" =>
        val q = Seq((id, o.get("text").asText)).toDF("doc_id", "text")
        sorted(rows) == sorted(Dedup.nearDupXPairsOn(spark, q, docsLive)
          .select("bench_id", "doc_id", "jaccard").as[(Long, Long, Double)].collect().toSeq)
      case _ =>
        val live = Similarity.normedVectorsOf(spark,
          allVecs.filter(col("vec_id").isin(liveVecs.toSeq: _*)))
        val q = queryVec(ctx, o.get("src").asLong, id).select(col("v").as("qv"), col("nrm").as("qnrm"))
        val exact = live.crossJoin(q)
          .select(col("vec_id"), (Similarity.dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))).as("cos"))
          .as[(Long, Double)].collect().toMap
        rows.head._3 == exact.values.max && rows.forall(r => exact.get(r._2).contains(r._3)) &&
          rows.map(_._3).zip(rows.map(_._3).drop(1)).forall { case (a, b) => a >= b }
    }
  }

  override def layerMetrics(ctx: Ctx, tel: Telemetry): Map[String, Double] = {
    val spark = ctx.spark
    val inv = StoreHealth.inventory(spark).collect()
    val tomb = inv.map(_.getAs[Long]("tombstones_pending")).sum.toDouble
    val wh = new java.io.File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    def bytes(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(bytes).sum).getOrElse(0L)
      else if (f.getName.endsWith(".parquet")) f.length else 0L
    val storeBytes = bytes(wh).toDouble
    val liveBytes = corpusDocs.filter(col("doc_id").isin(liveDocs.toSeq: _*))
      .select(sum(length(col("text")))).head.getLong(0).toDouble +
      liveVecs.size * 4.0 * Dim
    val appendOut = tel.ops.filter(_._1.endsWith(".append")).values.map(_.output).sum.toDouble
    Map(
      "sources.tombstones_pending" -> tomb,
      "sources.space_amp" -> (if (liveBytes > 0) storeBytes / liveBytes else 0.0),
      "sources.write_amp" -> (if (userBytes > 0) appendOut / userBytes else 0.0))
  }
}
