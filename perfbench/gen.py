"""Seeded input generator for the three benchmark workloads.

    python3 perfbench/gen.py <workload> <seed> <outDir>

Everything a run reads comes from here: span JSONL for trace_convert, the
curation corpus for curate, the serve corpus with embeddings and its op
script for serve, plus `expected.json`, the facts the trace_convert and
curate output checks use (serve's checks follow the op script).
The same seed gives byte-identical files; another seed gives other
inputs with the same planted shares (SHARES below).
"""
import json
import math
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

# Workload sizes. The curate and trace_convert inputs are large enough
# that a pass is data-bound on four cores; serve stays at query scale.
SIZES = {
    "trace_convert": {"traces": 4000, "files": 8, "warm_traces": 50,
                      "rounds": 3000},
    "curate": {"docs": 4000, "warm_docs": 200,
               "sources": 24},
    "serve": {"docs": 1500, "vectors": 1500, "dim": 64, "ops": 1500,
              "write_every": 5, "append_batch": 16, "delete_batch": 8},
}

# Planted shares (fractions of the generated rows).
SHARES = {
    "meta_agent": 0.10,      # agent spans named "meta": dropped by P2
    "malformed_xml": 0.05,   # records whose input XML fails validation
    "corrupt_line": 0.02,    # JSONL lines that are not JSON at all
    "exact_dup": 0.06,       # curate: byte-identical copy of an earlier doc
    "near_dup": 0.08,        # curate: an earlier doc with a few tokens edited
    "sealed_twin": 0.03,     # curate: bag-of-words twin of a sealed doc
    "bench_leak": 0.02,      # curate: carries an 8-gram of a benchmark doc
}

LANGS = ["en", "zh", "de", "fr", "es"]


# ---------------------------------------------------------------- text --

class Vocab:
    """Heaps-law vocabulary: a deterministic pool of word shapes whose
    first ceil(c * sqrt(n_tokens)) entries are in use, drawn by a Zipf
    (s = 1.1) rank, so frequent words are shared and the tail is rare."""

    def __init__(self, rng, n_tokens, c=6.0):
        size = int(math.ceil(c * math.sqrt(n_tokens)))
        words, seen = ["the", "a"], {"the", "a"}
        letters = "etaoinshrdlcumwfgypbvkjxqz"
        lw = [1.0 / (i + 1) ** 0.7 for i in range(len(letters))]
        while len(words) < size:
            n = rng.choice([2, 3, 4, 4, 5, 5, 6, 6, 7, 8, 9, 11])
            w = "".join(rng.choices(letters, weights=lw, k=n))
            if w not in seen:
                seen.add(w)
                words.append(w)
        self.words = words
        acc, cum = 0.0, []
        for i in range(len(words)):
            acc += 1.0 / (i + 1) ** 1.1
            cum.append(acc)
        self.cum = cum

    def tokens(self, rng, n):
        return rng.choices(self.words, cum_weights=self.cum, k=n)


def doc_length(rng):
    # heavy-tailed, bounded: most docs 20-80 tokens, a few long ones
    return min(400, 20 + int(rng.paretovariate(1.6) * 18))


# ------------------------------------------------------- trace_convert --

TOOLS = ["search", "fetch", "rank", "read_file", "run_code", "summarize"]


def tool_use(rng, vocab, broken=False):
    name = rng.choice(TOOLS)
    a, b = vocab.tokens(rng, 2)
    close = "</limit>" if broken else "</query>"
    return (f"<tool_use>\n<tool_name>{name}</tool_name>\n<parameter>\n"
            f"<query>{a} {b}{close}\n<limit>{rng.randint(1, 9)}</limit>\n"
            f"</parameter>\n</tool_use>"), [name]


def parallel_block(rng, vocab, n):
    names, parts = [], []
    for _ in range(n):
        name = rng.choice(TOOLS)
        names.append(name)
        parts.append(f"<parallel_tool><tool_name>{name}</tool_name><parameter>"
                     f"<url>{vocab.tokens(rng, 1)[0]}</url></parameter>"
                     f"</parallel_tool>")
    return ("<use_parallel_tool_calls>\n" + "\n".join(parts) +
            "\n</use_parallel_tool_calls>"), names


def calls_block(rng, vocab, broken=False):
    """An assistant turn's tool calls: 1-3 single blocks or one parallel
    block of 2-4 tools. Returns (text, tool names in call order)."""
    if not broken and rng.random() < 0.3:
        return parallel_block(rng, vocab, rng.randint(2, 4))
    texts, names = [], []
    for i in range(rng.randint(1, 3)):
        t, n = tool_use(rng, vocab, broken=broken and i == 0)
        texts.append(t)
        names += n
    return "\n".join(texts), names


def gen_generation(rng, vocab, trace, gid, parent, minute, lang, broken):
    sys_prompt = (f"You are {lang}_agent, a helpful assistant.\n"
                  "<TOOL_DEFINITIONS_START>\nTool: search - finds "
                  f"{vocab.tokens(rng, 1)[0]}.\n<TOOL_DEFINITIONS_END>\n"
                  "When you use tools, emit NexAU XML.")
    calls_text, names = calls_block(rng, vocab, broken=broken)
    results = "".join(f"<tool_result><tool_name>{n}</tool_name><result>found "
                      f"{vocab.tokens(rng, 1)[0]}</result></tool_result>"
                      for n in names)
    inp = [
        {"role": "system", "content": sys_prompt},
        {"role": "user", "content": "Please research: " +
         " ".join(vocab.tokens(rng, rng.randint(4, 12)))},
        {"role": "assistant", "content": "Starting.\n" + calls_text},
        {"role": "user", "content": "Tool execution results:\n" + results},
    ]
    r = rng.random()
    if r < 0.25:
        out, out_names = "Done: " + " ".join(vocab.tokens(rng, 6)) + ".", []
    else:
        t, out_names = calls_block(rng, vocab)
        out = "Next step.\n" + t
    span = {"trace_id": trace, "span_id": f"{trace}_g{gid:03d}",
            "span_type": "GENERATION", "span_name": "OpenAI-generation",
            "model": "nex-1", "input": inp,
            "output": {"role": "assistant", "content": out},
            "startTime": f"2025-01-01T00:{minute // 60:02d}:{minute % 60:02d}.000Z",
            "parentObservationId": parent, "level": 1}
    return span, len(names) + len(out_names), bool(out_names)


def gen_traces(rng, vocab, n, prefix):
    """Spans for n traces plus the expected per-trace record summary:
    [records, valid records, tool calls over valid records, records
    finishing on tool_calls]."""
    lines, expected = [], {}
    for t in range(n):
        trace = f"{prefix}{t:06d}"
        lang = rng.choice(LANGS)
        n_agents = min(6, int(rng.paretovariate(2.0)) + (rng.random() < 0.4))
        rec = [0, 0, 0, 0]
        for a in range(n_agents):
            agent_id = f"{trace}_a{a}"
            meta = rng.random() < SHARES["meta_agent"]
            name = "meta" if meta else f"Sub-agent: {lang}_agent{a}"
            lines.append(json.dumps({
                "trace_id": trace, "span_id": agent_id, "span_type": "SPAN",
                "span_name": name, "model": None, "input": [],
                "output": None, "startTime": "2025-01-01T00:00:00.000Z",
                "parentObservationId": None, "level": 0}))
            n_gen = min(12, int(rng.paretovariate(1.3)))
            last = None
            for g in range(n_gen):
                broken = g == n_gen - 1 and rng.random() < SHARES["malformed_xml"]
                span, calls, tool_finish = gen_generation(
                    rng, vocab, trace, a * 100 + g, agent_id, g + 1, lang, broken)
                lines.append(json.dumps(span))
                last = (calls, tool_finish, broken)
            if last is not None and not meta:
                rec[0] += 1
                if not last[2]:
                    rec[1] += 1
                    rec[2] += last[0]
                rec[3] += int(last[1])
        expected[trace] = rec
    out = []
    for line in lines:
        out.append(line)
        if rng.random() < SHARES["corrupt_line"]:
            out.append('{"trace_id": "' + prefix + 'broken", "span_id": ')
    return out, expected


def write_jsonl(path, lines):
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")


def gen_trace_convert(rng, out, z):
    vocab = Vocab(rng, z["traces"] * 60)
    lines, expected = gen_traces(rng, vocab, z["traces"], "tr")
    os.makedirs(f"{out}/spans")
    per = math.ceil(len(lines) / z["files"])
    for i in range(z["files"]):
        write_jsonl(f"{out}/spans/part-{i:04d}.jsonl", lines[i * per:(i + 1) * per])
    wlines, wexpected = gen_traces(rng, vocab, z["warm_traces"], "wt")
    os.makedirs(f"{out}/warm")
    write_jsonl(f"{out}/warm/part-0000.jsonl", wlines)
    personas = [" ".join(vocab.tokens(rng, 3)) for _ in range(40)]
    paths = [" > ".join(vocab.tokens(rng, 3)) for _ in range(60)]
    json.dump({"personas": personas, "paths": paths, "rounds": z["rounds"],
               "warm_rounds": z["rounds"] // 10},
              open(f"{out}/synth.json", "w"))
    json.dump({"traces": z["traces"], "per_trace": expected,
               "warm_per_trace": wexpected}, open(f"{out}/expected.json", "w"),
              sort_keys=True)


# -------------------------------------------------------------- curate --

def docs_table(ids, texts, langs, sources):
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def gen_corpus(rng, n, n_sources):
    """A curation corpus with planted duplicate, near-duplicate, sealed-twin
    and benchmark-leak shares. doc_id % 10 == 7 is the sealed slice and
    doc_id % 20 == 7 the held-out benchmark, the pipeline's conventions."""
    vocab = Vocab(rng, n * 60)
    texts, plants = [], {"exact_dup": 0, "near_dup": 0, "sealed_twin": 0,
                         "bench_leak": 0}
    # duplicates copy fresh documents only, never another plant: every
    # duplicate cluster is a star around one original, so the cluster
    # resolve does the same number of rounds whatever the seed
    originals = []
    for i in range(n):
        r = rng.random()
        sealed = [j for j in range(max(0, i - 200), i) if j % 10 == 7]
        bench = [j for j in sealed if j % 20 == 7]
        if i % 10 == 7 or i < 20:
            toks = vocab.tokens(rng, doc_length(rng))
            originals.append(i)
        elif r < SHARES["exact_dup"]:
            texts.append(texts[rng.choice(originals)])
            plants["exact_dup"] += 1
            continue
        elif r < SHARES["exact_dup"] + SHARES["near_dup"]:
            toks = texts[rng.choice(originals)].split(" ")
            for _ in range(max(1, len(toks) // 25)):
                toks[rng.randrange(len(toks))] = vocab.tokens(rng, 1)[0]
            plants["near_dup"] += 1
        elif r < SHARES["exact_dup"] + SHARES["near_dup"] + SHARES["sealed_twin"] and sealed:
            toks = texts[rng.choice(sealed)].split(" ")
            rng.shuffle(toks)
            plants["sealed_twin"] += 1
        elif r < (SHARES["exact_dup"] + SHARES["near_dup"] + SHARES["sealed_twin"]
                  + SHARES["bench_leak"]) and bench:
            src = texts[rng.choice(bench)].split(" ")
            k = rng.randrange(max(1, len(src) - 8))
            toks = vocab.tokens(rng, doc_length(rng)) + src[k:k + 8]
            plants["bench_leak"] += 1
        else:
            toks = vocab.tokens(rng, doc_length(rng))
            originals.append(i)
        texts.append(" ".join(toks))
    ids = list(range(n))
    langs = [rng.choice(LANGS) for _ in ids]
    sources = [f"src{rng.randrange(n_sources)}" for _ in ids]
    arriving = [t for i, t in enumerate(texts) if i % 10 != 7]
    facts = {"docs": n, "plants": plants,
             "arriving_docs": len(arriving),
             "arriving_tokens": sum(len(t.split(" ")) for t in arriving)}
    return docs_table(ids, texts, langs, sources), facts


def gen_curate(rng, out, z):
    expected = {}
    for name, n in (("corpus", z["docs"]), ("warm", z["warm_docs"])):
        table, facts = gen_corpus(rng, n, z["sources"])
        os.makedirs(f"{out}/{name}")
        pq.write_table(table, f"{out}/{name}/documents.parquet")
        expected[name] = facts
    json.dump(expected, open(f"{out}/expected.json", "w"), sort_keys=True)


# --------------------------------------------------------------- serve --

def unit_vec(rng, dim, center=None, noise=1.0):
    v = [rng.gauss(0.0, 1.0) * noise + (center[i] if center else 0.0)
         for i in range(dim)]
    n = math.sqrt(sum(x * x for x in v)) or 1.0
    return [x / n for x in v]


def gen_serve(rng, out, z):
    n_docs, n_vecs, dim = z["docs"], z["vectors"], z["dim"]
    # appends are a quarter of the writes, writes one op in write_every
    n_pool = (z["ops"] // z["write_every"] // 4 + 1) * z["append_batch"]
    vocab = Vocab(rng, (n_docs + n_pool) * 60)
    texts = []
    for i in range(n_docs + n_pool):
        if i >= 20 and rng.random() < 0.1:   # near-dups keep band probes busy
            toks = texts[rng.randrange(i)].split(" ")
            toks[rng.randrange(len(toks))] = vocab.tokens(rng, 1)[0]
        else:
            toks = vocab.tokens(rng, doc_length(rng))
        texts.append(" ".join(toks))
    centers = [unit_vec(rng, dim) for _ in range(16)]
    vecs, labels = [], []
    for i in range(n_vecs + n_pool):
        c = rng.randrange(16)
        vecs.append(unit_vec(rng, dim, centers[c], noise=0.35))
        labels.append(c)
    os.makedirs(f"{out}/base")
    ids = list(range(n_docs))
    pq.write_table(docs_table(ids, texts[:n_docs],
                              [rng.choice(LANGS) for _ in ids],
                              [f"src{i % 8}" for i in ids]),
                   f"{out}/base/documents.parquet")
    pq.write_table(pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(vecs[:n_vecs], pa.list_(pa.float32())),
        "label": pa.array(labels[:n_vecs], pa.int32())}),
        f"{out}/base/embeddings.parquet")
    pool = {"doc_text": texts[n_docs:], "vec": vecs[n_vecs:],
            "label": labels[n_vecs:]}
    # op script: probes over the four families, writes cycling through
    # deferred delete / compact / append / delete, so a traced run's four
    # cycles hold every write kind, the traced third cycle an append. Ids
    # for writes are handed out in order, so the live set at any op is a
    # function of the script prefix.
    ops, next_doc, next_vec, writes = [], n_docs, n_vecs, 0
    live_docs, live_vecs = list(range(n_docs)), list(range(n_vecs))
    families = ["postings", "ann", "ivf", "band"]
    for k in range(z["ops"]):
        # a fixed mix (every write_every-th op writes, probes cycle the
        # families) so the seed moves the payloads and never the op mix
        if k % z["write_every"] != z["write_every"] - 1:
            fam = families[(k - k // z["write_every"]) % 4]
            if fam in ("postings", "band"):
                src = rng.choice(live_docs)
                q = texts[src].split(" ")
                if fam == "postings":
                    rng.shuffle(q)
                    q = q[:12]
                ops.append({"op": "probe", "family": fam, "src": src,
                            "text": " ".join(q)})
            else:
                ops.append({"op": "probe", "family": fam,
                            "src": rng.choice(live_vecs)})
            continue
        writes += 1
        kind = ["delete_deferred", "compact", "append", "delete"][(writes - 1) % 4]
        if kind == "compact":
            ops.append({"op": "compact"})
            continue
        if kind == "append" and next_doc + z["append_batch"] <= n_docs + n_pool:
            b = z["append_batch"]
            ops.append({"op": "append", "doc_ids": list(range(next_doc, next_doc + b)),
                        "vec_ids": list(range(next_vec, next_vec + b))})
            live_docs += range(next_doc, next_doc + b)
            live_vecs += range(next_vec, next_vec + b)
            next_doc += b
            next_vec += b
        else:
            kind = "delete" if kind == "append" else kind  # pool spent
            d = sorted(rng.sample(live_docs, z["delete_batch"]))
            v = sorted(rng.sample(live_vecs, z["delete_batch"]))
            dset, vset = set(d), set(v)
            live_docs = [i for i in live_docs if i not in dset]
            live_vecs = [i for i in live_vecs if i not in vset]
            ops.append({"op": kind, "doc_ids": d, "vec_ids": v})
    # the probe family whose first probe a run recomputes brute force
    recompute = [rng.choice(families)]
    json.dump({"ops": ops, "recompute": recompute, "dim": dim},
              open(f"{out}/ops.json", "w"))
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n_docs, n_docs + n_pool), pa.int64()),
        "text": pa.array(pool["doc_text"], pa.string())}),
        f"{out}/pool_docs.parquet")
    pq.write_table(pa.table({
        "vec_id": pa.array(range(n_vecs, n_vecs + n_pool), pa.int64()),
        "embedding": pa.array(pool["vec"], pa.list_(pa.float32())),
        "label": pa.array(pool["label"], pa.int32())}),
        f"{out}/pool_vecs.parquet")


GENERATORS = {"trace_convert": gen_trace_convert, "curate": gen_curate,
              "serve": gen_serve}


def generate(workload, seed, out):
    """Write the workload's inputs for `seed` into the fresh dir `out`."""
    os.makedirs(out)
    rng = random.Random(f"{workload}:{seed}")
    GENERATORS[workload](rng, out, SIZES[workload])


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
