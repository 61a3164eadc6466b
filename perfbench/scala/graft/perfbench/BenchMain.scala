package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed op as the result file records it. */
final case class Sample(id: String, kind: String, family: String, items: Long,
    ms: Double, ok: Boolean)

/** The benchmark's JVM half: sets a workload up several times, runs its
  * closed loop for the measured window, checks outputs and writes one
  * JSON result file for perfbench/run.py.
  *
  *   BenchMain <workload> <dataDir> <workDir> <seconds> <trace 0|1> <cores> <out.json>
  *
  * Untraced (trace 0): `SetupReps` fresh sessions each stand the state up
  * (the median is setup_s); the last one runs ops until `seconds` of op
  * time have passed. Traced (trace 1): one session runs the workload's
  * fixed op sequence in four equal parts: a warm-up, then three measured,
  * the middle one with the listeners and the span tracer on; its
  * difference from the other two is the tracing overhead. */
object BenchMain {
  val SetupReps = 3

  def session(work: String, tag: String, cores: Int): SparkSession = {
    val dir = s"$work/$tag"
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$tag")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.local.dir", s"$dir/local")
      .config("spark.sql.streaming.checkpointLocation", s"$dir/checkpoints")
      .config("spark.checkpoint.dir", s"$dir/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Run one op: a non-fatal throw or a failed check is a failed sample;
    * fatal errors (VirtualMachineError and the like) end the run. `timed`
    * brackets the timed part only, never the check. */
  def runOp(op: Op, timed: (=> Unit) => Unit = body => body): Sample = {
    var check: Option[() => Boolean] = None
    val t0 = System.nanoTime()
    timed {
      check = try Some(op.run()) catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] ${op.id} threw: $e")
          None
      }
    }
    val ms = (System.nanoTime() - t0) / 1e6
    val ok = check.exists { c =>
      try c() catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] ${op.id} check threw: $e")
          false
      }
    }
    Sample(op.id, op.kind, op.family, op.items, ms, ok)
  }

  /** Closed loop: ops back to back until `seconds` of op time, at least
    * `minOps` ops and a whole number of op cycles, or the script is spent. */
  def loop(ctx: Ctx, wl: Workload, seconds: Double, minOps: Int, maxOps: Int,
      around: Op => Sample = runOp(_), from: Int = 0): Seq[Sample] = {
    val out = mutable.ArrayBuffer.empty[Sample]
    var spentMs = 0.0
    var i = from
    var more = true
    while (more && i < maxOps &&
        (spentMs < seconds * 1000 || i < minOps || (i - from) % wl.cycle != 0)) {
      wl.op(ctx, i) match {
        case Some(op) =>
          val s = around(op)
          out += s
          spentMs += s.ms
          i += 1
        case None => more = false
      }
    }
    out.toSeq
  }

  def sampleJson(s: Sample): Map[String, Any] = Map("id" -> s.id, "kind" -> s.kind,
    "family" -> s.family, "items" -> s.items, "ms" -> s.ms, "ok" -> s.ok)

  def main(args: Array[String]): Unit = {
    val Array(name, data, work, secondsArg, traceArg, coresArg, outPath) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val cores = coresArg.toInt
    val gc0 = Telemetry.gcSeconds
    val result: Map[String, Any] =
      if (!traced) untraced(name, data, work, seconds, cores)
      else tracedRun(name, data, work, cores, gc0)
    Files.write(Paths.get(outPath), Json(result).getBytes(StandardCharsets.UTF_8))
  }

  private def untraced(name: String, data: String, work: String, seconds: Double,
      cores: Int): Map[String, Any] = {
    val wl = Workloads(name)
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (1 to SetupReps).foreach { rep =>
      if (spark != null) stop(spark)
      val t0 = System.nanoTime()
      spark = session(work, s"rep$rep", cores)
      wl.setup(new Ctx(spark, data, s"$work/rep$rep", new Tracer(false)))
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val ctx = new Ctx(spark, data, s"$work/rep$SetupReps", new Tracer(false))
    val samples = loop(ctx, wl, seconds, wl.minOps, Int.MaxValue)
    val extra = wl.extraOut(ctx)
    val heap = Telemetry.heapAfterGcMb
    stop(spark)
    Map("setup_s" -> setupS, "samples" -> samples.map(sampleJson),
      "retained_heap_mb" -> heap) ++ extra
  }

  private def tracedRun(name: String, data: String, work: String, cores: Int,
      gc0: Double): Map[String, Any] = {
    val wl = Workloads(name)
    val tracer = new Tracer(false)
    val spark = session(work, "traced", cores)
    val tel = new Telemetry(tracer)
    tel.register(spark)
    val ctx = new Ctx(spark, data, s"$work/traced", tracer)
    wl.setup(ctx)
    // the fixed op sequence: n warm-up ops, then n untraced, n traced and
    // n untraced again; the op mix repeats per cycle, so the last three
    // parts do the same work and the untraced ones bracket the traced one
    val n = wl.tracedOps
    loop(ctx, wl, 0, n, n)
    val before = loop(ctx, wl, 0, 2 * n, 2 * n, from = n)
    tracer.enabled = true
    tel.active = true
    val traced = loop(ctx, wl, 0, 3 * n, 3 * n, op => runOp(op, body => {
      tel.beginOp(spark, op.id)
      val t0 = System.nanoTime()
      tracer.span("bench", op.kind)(body)
      tel.endOp(spark, op.id, System.nanoTime() - t0)
    }), from = 2 * n)
    tracer.enabled = false
    tel.active = false
    val baseline = before ++ loop(ctx, wl, 0, 4 * n, 4 * n, from = 3 * n)
    val extra = wl.layerMetrics(ctx, tel)
    val layers = Layers.summarize(tel, tracer, traced, baseline ++ traced, cores) ++ extra ++ Map(
      "jvm.gc_s" -> (Telemetry.gcSeconds - gc0),
      "jvm.jit_ms" -> Telemetry.jitMs,
      "jvm.heap_after_gc_mb" -> Telemetry.heapAfterGcMb)
    stop(spark)
    Files.write(Paths.get(s"$work/trace.json"), tracer.toJson.getBytes(StandardCharsets.UTF_8))
    Map("baseline" -> baseline.map(sampleJson), "samples" -> traced.map(sampleJson),
      "layers" -> layers,
      "per_op" -> tel.ops.filter(e => traced.exists(_.id == e._1)).map { case (op, st) =>
        op -> Map("jobs" -> st.jobs, "stages" -> st.stages, "tasks" -> st.tasks)
      })
  }
}
