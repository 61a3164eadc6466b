"""Metric names, units and the arithmetic that turns one JVM result file
into the benchmark's result line. BENCHMARK.json lists the same names;
tests/test_perfbench.py keeps the two in step."""
import math
import statistics

END_TO_END = [
    # (name, unit, better, bound)
    ("setup_s", "s", "lower", 0.25),
    ("items_per_s", "items/s", "higher", 0.25),
    ("op_p50_ms", "ms", "lower", 0.25),
    ("retained_heap_mb", "MB", "lower", 0.2),
]

FAMILIES = ["postings", "ann", "ivf", "band"]
STAGES = ["admitted", "scored", "exact_kept", "fuzzy_kept", "clean", "capped", "split"]
TRACED_LAYERS = ["gyrfalcon", "streaming", "converter", "queries", "sources"]

PER_LAYER = (
    [("spark.jobs", "count", "lower"), ("spark.stages", "count", "lower"),
     ("spark.tasks", "count", "lower"), ("spark.task_cpu_s", "s", "lower"),
     ("spark.task_run_s", "s", "lower"), ("spark.gc_s", "s", "lower"),
     ("spark.shuffle_write_mb", "MB", "lower"), ("spark.shuffle_read_mb", "MB", "lower"),
     ("spark.spill_mb", "MB", "lower"), ("spark.peak_exec_mem_mb", "MB", "lower"),
     ("spark.input_mb", "MB", "lower"), ("spark.output_mb", "MB", "lower"),
     ("spark.cpu_util", "ratio", "higher"), ("spark.idle_core_s", "s", "lower"),
     ("planning.analysis_ms", "ms", "lower"), ("planning.optimization_ms", "ms", "lower"),
     ("planning.physical_ms", "ms", "lower"), ("planning.executions", "count", "lower")]
    + [(f"sources.{f}.{m}", u, "lower") for f in FAMILIES
       for m, u in (("probe_ms", "ms"), ("files_read", "count"), ("bytes_read", "bytes"))]
    + [("sources.append_ms", "ms", "lower"), ("sources.delete_ms", "ms", "lower"),
       ("sources.compact_ms", "ms", "lower"), ("sources.write_amp", "ratio", "lower"),
       ("sources.space_amp", "ratio", "lower"), ("sources.tombstones_pending", "count", "lower"),
       ("converter.convert_s", "s", "lower"), ("converter.dialect_s", "s", "lower"),
       ("converter.records", "count", "higher"), ("converter.valid_ratio", "ratio", "higher"),
       ("streaming.batches", "count", "lower"), ("streaming.batch_ms", "ms", "lower"),
       ("streaming.add_batch_ms", "ms", "lower"), ("streaming.wal_commit_ms", "ms", "lower"),
       ("streaming.rows_per_s", "rows/s", "higher"),
       ("gyrfalcon.synth_s", "s", "lower"), ("gyrfalcon.rounds", "count", "higher"),
       ("gyrfalcon.kept_ratio", "ratio", "higher")]
    + [(f"queries.stage.{s}.{m}", u, b) for s in STAGES
       for m, u, b in (("s", "s", "lower"), ("rows_out", "count", "higher"))]
    + [("queries.lsh.candidate_pairs", "count", "lower"),
       ("queries.lsh.verified_pairs", "count", "higher"),
       ("queries.lsh.verify_ratio", "ratio", "higher"),
       ("plans.WordShingles.ns_per_row", "ns", "lower"),
       ("plans.MinHashSigs.ns_per_row", "ns", "lower")]
    + [(f"core.text.{f}.ns_per_record", "ns", "lower") for f in (
        "NexXml.extractToolCalls", "NexXml.parseToolResults", "XmlValidator.isValid",
        "Dialects.convertMessage", "TextOps.stripSysPromptSections")]
    + [("jvm.gc_s", "s", "lower"), ("jvm.jit_ms", "ms", "lower"),
       ("jvm.heap_after_gc_mb", "MB", "lower")]
    + [(f"trace.{layer}.self_s", "s", "lower") for layer in TRACED_LAYERS]
    + [("bench.trace_overhead", "ratio", "lower"), ("bench.spans", "count", "lower"),
       ("bench.error_rate", "ratio", "lower"), ("bench.ops", "count", "higher"),
       ("bench.op_tail_ms", "ms", "lower"), ("bench.op_tail_pct", "pct", "higher")]
)

END_TO_END_UNITS = {n: u for n, u, _, _ in END_TO_END}


def tail_percentile(values, p, beyond=10):
    """The p-th percentile by nearest rank, or, when fewer than `beyond`
    samples would lie above it, the highest percentile that still has
    `beyond` samples above it. Returns (percentile used, value), or None
    when there are not even beyond + 1 samples."""
    xs = sorted(values)
    n = len(xs)
    if n < beyond + 1:
        return None
    rank = max(1, math.ceil(p / 100.0 * n))
    rank = min(rank, n - beyond)
    return 100.0 * rank / n, xs[rank - 1]


def accounting(samples, checks):
    """(attempted, failed): every op and every output check is one
    attempt; a thrown op or a wrong output is one failure."""
    attempted = len(samples) + len(checks)
    failed = sum(not s["ok"] for s in samples) + sum(not c["ok"] for c in checks)
    return attempted, failed


def end_to_end(res):
    """The end-to-end metrics of an untraced run. Failed ops never count
    as samples. Pass workloads (trace_convert, curate) report items per
    second of the median pass; serve reports ops per second of op time
    and the median probe."""
    samples = res["samples"]
    ok = [s for s in samples if s["ok"]]
    if not ok:
        raise ValueError("no op succeeded")
    passes = all(s["kind"] == "pass" for s in samples)
    if passes:
        p50 = statistics.median(s["ms"] for s in ok)
        rate = ok[0]["items"] / (p50 / 1000.0)
    else:
        probes = [s["ms"] for s in ok if s["kind"] == "probe"]
        p50 = statistics.median(probes)
        rate = sum(s["items"] for s in ok) / (sum(s["ms"] for s in samples) / 1000.0)
    values = {
        "setup_s": statistics.median(res["setup_s"]),
        "items_per_s": rate,
        "op_p50_ms": p50,
        "retained_heap_mb": res["retained_heap_mb"],
    }
    return {n: {"value": values[n], "unit": END_TO_END_UNITS[n]} for n, *_ in END_TO_END}


def per_layer(res, error_rate):
    """The per-layer metrics of a traced run; layers the workload does not
    load report 0."""
    layers = dict(res["layers"])
    # writes differ in kind from one part of the sequence to the next;
    # passes and probes repeat, so only they compare
    def mean_ms(samples):
        return statistics.mean(s["ms"] for s in samples if s["kind"] != "write")
    layers["bench.trace_overhead"] = mean_ms(res["samples"]) / mean_ms(res["baseline"]) - 1.0
    layers["bench.error_rate"] = error_rate
    measured = res["baseline"] + res["samples"]
    layers["bench.ops"] = len(measured)
    tail = tail_percentile([s["ms"] for s in measured if s["ok"]], 90)
    layers["bench.op_tail_pct"], layers["bench.op_tail_ms"] = tail or (0.0, 0.0)
    return {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u, _ in PER_LAYER}
