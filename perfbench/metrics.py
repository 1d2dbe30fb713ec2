"""From the harness's events to checked operations and metric values.

The end-to-end metrics come from the untraced passes; the per-layer ones
from the traced passes of a `--trace 1` run (see README.md for the
layer -> metric -> end-to-end map). A metric a workload does not exercise
reads 0 (e.g. checkpoint bytes on query-sample).
"""
import check
import stats

KERNELS = ("pagerank", "cc", "lp")
CALLS = ("derive", "pagerank", "cc", "lp", "tc", "resume", "query")
# spill bytes are left out: 0 on both workloads at their sizes (README.md
# "Metrics")
COUNTERS = (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
            ("task_s", "s"), ("sched_delay_s", "s"),
            ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
            ("gc_s", "s"))
# spans of the traced-only probes: not part of any layer's self time
PROBES = {"graph_shapes"} | {
    f"{k}.preloop" for k in KERNELS}
LAYERS = ("corpus", "graph", "engine", "kernels", "query")

E2E = {"setup_s": "s", "cpu_s": "s"}

# interactive-resume: reference cost of each operation, in s (medians of
# 21 runs on a 4-core host), which op_p50_s is normalised by (`ratio_median`)
GRAPH_COSTS = {"derive": 4.2, "pagerank_durable": 20.3, "cc_durable": 8.2,
               "lp_durable": 9.3, "tc": 4.6}
# query-sample: one query per cost stratum, the strata in ascending cost
# (QuerySample.Strata)
STRATA = 6
# query-sample: a query's first execution in a fresh session costs about
# 1.16 x its sweep cost (data/query_costs.tsv, a warm session) + 2.6 s
# (least-squares fit over 162 benchmark runs on a 4-core host). The
# overhead is additive, so the reference costs add it: with the sweep
# costs alone, a sample that draws a 30 s query reads ~45 % lower.
FIRST_RUN_S = 2.6

LAYER = {
    # wall times of a pass and its operations, and the peak heap: they
    # follow the shared host's load, not only the program (README.md
    # "Metrics")
    "total_s": "s", "op_p50_s": "s", "op_p90_s": "s", "heap_peak_mb": "MiB",
    # CPU time of the whole JVM per pass: cpu_s plus the JIT compiler and
    # GC threads
    "process_cpu_s": "s",
    # kernel and query walls, from the trace run's untraced passes
    "derive_s": "s", "pagerank_s": "s", "pagerank_edges_per_s": "1/s",
    "cc_s": "s", "lp_s": "s", "tc_s": "s", "resume_s": "s",
    # corpus
    "corpus.derive_self_s": "s", "corpus.groups": "count",
    "corpus.capped_groups": "count", "corpus.pairs_expanded": "count",
    "corpus.edges_out": "count", "corpus.pair_yield": "1",
    # graph
    "graph.symmetrize_rows": "count", "graph.orient_s": "s",
    "graph.adjacency_s": "s",
    # engine, per superstep and durable path
    **{f"engine.{m}.{k}": u for k in KERNELS for m, u in (
        ("supersteps", "count"), ("superstep_p50_s", "s"),
        ("superstep1_s", "s"), ("shuffle_read_bytes", "bytes"),
        ("shuffle_write_bytes", "bytes"))},
    "engine.frontier_rows.cc": "count",
    "engine.ckpt_bytes": "bytes", "engine.ckpt_parts": "count",
    "engine.resume_read_s": "s", "engine.durable_overhead_s": "s",
    # kernels
    "pagerank.preloop_s": "s",
    **{f"{k}.iterations": "count" for k in KERNELS},
    "tc.triangles": "count",
    # spark counters per call
    **{f"spark.{c}.{call}": u for call in CALLS for c, u in COUNTERS},
    **{f"spark.jobs_per_superstep.{k}": "count" for k in KERNELS},
    "spark.failed_tasks": "count",
    # query layer: the sample's query of each cost stratum (the stratum
    # names the metric, so the names stay fixed if the draw changes)
    **{f"query.stratum{i}_s": "s" for i in range(1, STRATA + 1)},
    **{f"query.jobs.stratum{i}": "count" for i in range(1, STRATA + 1)},
    "query.shuffle_bytes_total": "bytes",
    # self time per layer, per traced pass (the corpus layer's is
    # corpus.derive_self_s)
    **{f"self_s.{l}": "s" for l in LAYERS if l != "corpus"},
    # tracing overhead: traced minus untraced pass op time
    "trace.overhead_s": "s",
}

UNITS = {**E2E, **LAYER}


# ---- checks ----

def check_ops(events, data_dir):
    """Every op event gets `problems` (output checks) and `ok` (ran and
    passed). The run's graph and each oracle result are loaded once;
    `data_dir` holds the query tables the oracle SQL reads."""
    ops = [e for e in events if e["kind"] == "op"]
    # one graph per run; the oracles run on the edges computed from the
    # corpus table, not on the ones derive produced
    derives = [o for o in ops if o["name"] == "derive" and o.get("corpus")]
    edges = counts = None
    if derives:
        edges, counts = check.path_edges(derives[0]["corpus"], derives[0]["cap"])
    tri = None
    oracle = None
    straight = {}
    for o in ops:
        o["problems"] = []
        if not o["ok"]:
            o["problems"] = [o.get("error") or "failed"]
            continue
        name, p = o["name"], o["pass"]
        if o["call"] == "query":
            if oracle is None:
                sample = next(e for e in events if e["kind"] == "sample")
                oracle = (check.Oracle(data_dir), sample["oracle"], {})
            con, sqls, cache = oracle
            if name in sqls and name not in cache:
                cache[name] = con.run(sqls[name])
            o["problems"] = check.check_query(
                check.read_parquet(o["result"]), cache.get(name))
            continue
        src, dst = edges
        if name == "derive":
            o["corpus_counts"] = counts
            o["problems"] = check.check_edges(
                *check.read_edges(o["edges_dump"]), edges)
            if o["edges"] != counts["edges_out"]:
                o["problems"].append(f"derive counted {o['edges']} edges")
            if o["directed_edges"] != 2 * counts["edges_out"]:
                o["problems"].append("directed edges are not twice the canonical ones")
        elif name == "tc":
            if tri is None:
                tri = check.triangle_oracle(src, dst)
            o["problems"] = check.check_triangles(o["triangles"], src, dst, tri)
        else:
            kernel = name.replace("_durable", "")
            col = {"pagerank": "rank", "cc": "component", "lp": "label"}[kernel]
            res = check.read_labels(o["result"], col)
            if kernel == "pagerank":
                o["problems"] = check.check_pagerank(
                    res[0], res[1], o["converged"], src, dst, o["iterations"])
            elif kernel == "cc":
                o["problems"] = check.check_cc(res[0], res[1], src, dst)
            else:
                o["problems"] = check.check_lp(res[0], res[1], src, dst,
                                               o["iterations"])
            if name == kernel:
                straight[(p, kernel)] = res
            elif (p, kernel) in straight:  # straight runs: trace run only
                o["problems"] += [f"resumed != straight: {x}" for x in
                                  check.check_same(
                                      res, straight[(p, kernel)],
                                      1e-9 if kernel == "pagerank" else 0.0)]
    for o in ops:
        o["ok"] = o["ok"] and not o["problems"]
    return ops


# ---- metrics ----

def _med(xs, default=0.0):
    xs = [x for x in xs if x is not None]
    return stats.median(xs) if xs else default


def _pass_ops(ops, names):
    """Per pass, one execution of each of the workload's ops (`names`; not
    the straight kernels a trace run adds): the untraced one, or the traced
    one when the op only runs traced (the durable kernels of an
    interactive-resume trace run)."""
    by = {}
    for o in sorted(ops, key=lambda o: o["traced"]):
        if o["name"] in names:
            by.setdefault(o["pass"], {}).setdefault(o["name"], o)
    return [list(p.values()) for p in by.values()]


def _pass_totals(ops, key, names):
    """`key` ("s", "cpu_s", ...) summed over each pass in which every op
    succeeded."""
    return [sum(o[key] for o in os_) for os_ in _pass_ops(ops, names)
            if all(o["ok"] for o in os_)]


def _walls(ops, name):
    """Walls of an op's untraced executions; of its traced ones when it
    only runs traced (the straight kernels of interactive-resume)."""
    runs = [o for o in ops if o["name"] == name and o["ok"]]
    return [o["s"] for o in runs if not o["traced"]] or [o["s"] for o in runs]


def write_costs(ops, path):
    """query-sweep: the cost table QuerySample stratifies by."""
    with open(path, "w") as fh:
        fh.write("# query\tseconds (query-sweep, one pass)\n")
        for o in sorted(ops, key=lambda o: o["name"]):
            if o["ok"]:
                fh.write(f"{o['name']}\t{o['s']:.3f}\n")


def load_costs(path):
    """The query cost table (name -> seconds in one warm session)."""
    costs = {}
    with open(path) as fh:
        for line in fh:
            if line.strip() and not line.startswith("#"):
                name, sec = line.split("\t")
                costs[name] = float(sec)
    return costs


def _reference(events, costs):
    """query-sample: reference cost of every query of the suite as the
    benchmark runs it, the sweep cost plus FIRST_RUN_S; a query missing
    from the table counts at the median, as in QuerySample.draw."""
    sample = next(e for e in events if e["kind"] == "sample")
    med = stats.median(list(costs.values()))
    return {n: costs.get(n, med) + FIRST_RUN_S for n in sample["suite"]}


def ratio_median(ops, ref):
    """The median operation's time at the measured speed: the median ratio
    of measured to reference time, times the median reference time. Every
    operation moves it by its ratio, whatever its size; the raw median of
    a few unlike operations would follow only the middle one."""
    ratios = [o["s"] / ref[o["name"]] for os_ in _pass_ops(ops, ref)
              for o in os_ if o["ok"] and ref[o["name"]] > 0]
    return stats.median(ratios) * stats.median(list(ref.values())) if ratios else 0.0


def summarize(ops, events, spans, workload, costs):
    setup = [e["s"] for e in events if e["kind"] == "setup"]
    warmup = sum(e["s"] for e in events if e["kind"] == "warmup")
    ref = (_reference(events, costs) if workload == "query-sample"
           else GRAPH_COSTS)
    good = [o for os_ in _pass_ops(ops, ref) for o in os_ if o["ok"]]
    walls = [o["s"] for o in good]
    e2e = {"setup_s": _med(setup) + warmup,
           "cpu_s": _med(_pass_totals(ops, "cpu_s", ref))}
    layer = _layer(ops, events, spans)
    layer["total_s"] = _med(_pass_totals(ops, "s", ref))
    layer["process_cpu_s"] = _med(_pass_totals(ops, "process_cpu_s", ref))
    layer["op_p50_s"] = ratio_median(ops, ref)
    layer["op_p90_s"] = stats.percentile(walls, 90) if walls else 0.0
    layer["heap_peak_mb"] = max((o["heap_mb"] for o in good), default=0.0)
    return e2e, layer


def _steps(o):
    s = o.get("step_s") or []
    return s[1:] if len(s) > 1 else s


def _layer(ops, events, spans):
    L = {k: 0.0 for k in LAYER}
    traced = [o for o in ops if o["traced"] and o["ok"]]
    tpasses = sorted({o["pass"] for o in ops if o["traced"]})
    nt = max(1, len(tpasses))
    untraced = [o for o in ops if not o["traced"] and o["ok"]]

    def by_pass(src, name):
        return [o for o in src if o["name"] == name]

    # kernel and query walls (untraced passes)
    for k in ("derive", "pagerank", "cc", "lp", "tc"):
        L[f"{k}_s"] = _med(_walls(ops, k))
    derive = {o["pass"]: o for o in ops if o["name"] == "derive" and o["ok"]}
    prs = by_pass(untraced, "pagerank") or by_pass(traced, "pagerank")
    L["pagerank_edges_per_s"] = _med(
        [derive[o["pass"]]["directed_edges"] / stats.median(_steps(o))
         for o in prs if o["pass"] in derive and _steps(o)])
    resume = {}
    durables = [o for o in untraced if o["name"].endswith("_durable")] or [
        o for o in traced if o["name"].endswith("_durable")]
    for o in durables:
        resume[o["pass"]] = resume.get(o["pass"], 0.0) + o["resume_s"]
    L["resume_s"] = _med(list(resume.values()))

    # corpus counts (from the corpus table, by the checker); graph probes
    cs = next((o["corpus_counts"] for o in ops if o.get("corpus_counts")), None)
    if cs:
        for k in ("groups", "capped_groups", "pairs_expanded", "edges_out"):
            L[f"corpus.{k}"] = cs[k]
        L["corpus.pair_yield"] = cs["edges_out"] / max(1, cs["pairs_expanded"])
    probes = [e for e in events if e["kind"] == "probe" and e["ok"]]
    gs = [e for e in probes if e["name"] == "graph_shapes"]
    for k in ("symmetrize_rows", "orient_s", "adjacency_s"):
        L[f"graph.{k}"] = _med([e[k] for e in gs])

    # engine, per superstep (straight kernels of the traced passes)
    for k in KERNELS:
        runs = by_pass(traced, k)
        if not runs:
            continue
        L[f"engine.supersteps.{k}"] = _med([len(o["step_s"]) for o in runs])
        L[f"engine.superstep_p50_s.{k}"] = _med(
            [stats.median(_steps(o)) for o in runs if o["step_s"]])
        L[f"engine.superstep1_s.{k}"] = _med(
            [o["step_s"][0] for o in runs if o["step_s"]])
        L[f"engine.shuffle_read_bytes.{k}"] = _med(
            [sum(o["step_shuffle_read"]) for o in runs])
        L[f"engine.shuffle_write_bytes.{k}"] = _med(
            [sum(o["step_shuffle_write"]) for o in runs])
        L[f"{k}.iterations"] = _med([o["iterations"] for o in runs])
    L["engine.frontier_rows.cc"] = _med(
        [sum(o["step_delta"]) for o in by_pass(traced, "cc")])

    # engine, durable path (per traced pass, summed over the kernels)
    per = {}
    for o in traced:
        if not o["name"].endswith("_durable"):
            continue
        k = o["name"].replace("_durable", "")
        st = next((s for s in traced if s["pass"] == o["pass"] and s["name"] == k), None)
        d = per.setdefault(o["pass"], [0, 0, 0.0, 0.0])
        d[0] += o["ckpt_bytes"]
        d[1] += o["ckpt_parts"]
        d[2] += o["resume_read_s"]
        if st:
            d[3] += sum(o["paused_step_s"]) + sum(o["step_s"]) - sum(st["step_s"])
    for i, k in enumerate(("ckpt_bytes", "ckpt_parts", "resume_read_s",
                           "durable_overhead_s")):
        L[f"engine.{k}"] = _med([v[i] for v in per.values()])

    # kernels
    L["pagerank.preloop_s"] = _med([o["s"] - sum(o["step_s"]) for o in prs])
    L["tc.triangles"] = _med([o["triangles"] for o in by_pass(traced, "tc")])

    # spark counters per call, per traced pass
    groups = next((e["counters"] for e in events if e["kind"] == "groups"), {})
    parsed = []
    for g, c in groups.items():
        parts = g.split("/", 2)
        if len(parts) == 3 and parts[0].startswith("p"):
            parsed.append((int(parts[0][1:]), parts[1], parts[2], c))
    for _, call, _, c in parsed:
        if call in CALLS:
            for name, _u in COUNTERS:
                L[f"spark.{name}.{call}"] += c[name] / nt
    L["spark.failed_tasks"] = sum(c["failed_tasks"] for *_, c in parsed) / nt
    jobs = {(p, call, name): c["jobs"] for p, call, name, c in parsed}
    for k in KERNELS:
        L[f"spark.jobs_per_superstep.{k}"] = _med(
            [(jobs[(o["pass"], k, k)] - jobs[(o["pass"], "pre", k)]) / len(o["step_s"])
             for o in by_pass(traced, k)
             if o["step_s"] and (o["pass"], k, k) in jobs
             and (o["pass"], "pre", k) in jobs])

    # query layer
    if any(o["call"] == "query" for o in untraced):
        drawn = next(e for e in events if e["kind"] == "sample")["queries"]
        for i, name in enumerate(drawn[:STRATA], 1):
            L[f"query.stratum{i}_s"] = _med(_walls(ops, name))
            L[f"query.jobs.stratum{i}"] = _med(
                [c["jobs"] for _, call, n, c in parsed
                 if call == "query" and n == name])
    L["query.shuffle_bytes_total"] = sum(
        c["shuffle_read_bytes"] + c["shuffle_write_bytes"]
        for _, call, _, c in parsed if call == "query") / nt

    # self time per layer (the corpus layer's spans are the derive calls)
    for layer, s in self_times(spans).items():
        if layer == "corpus":
            L["corpus.derive_self_s"] = s / nt
        elif layer in LAYERS:
            L[f"self_s.{layer}"] = s / nt

    # tracing overhead, over the ops that ran both untraced and traced
    both = {(o["pass"], o["name"]) for o in traced} & {
        (o["pass"], o["name"]) for o in untraced}
    t = sum(o["s"] for o in traced if (o["pass"], o["name"]) in both)
    u = sum(o["s"] for o in untraced if (o["pass"], o["name"]) in both)
    if u:
        L["trace.overhead_s"] = (t - u) / nt
    return L


def self_times(spans):
    """Self time per layer: each span's duration minus its children's,
    with the traced-only probe subtrees left out entirely."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}

    def walk(s):
        if s["name"] in PROBES:
            return
        kids = children.get(s["id"], [])
        dur = (s["end_ns"] - s["start_ns"]) / 1e9
        own = dur - sum((k["end_ns"] - k["start_ns"]) / 1e9 for k in kids)
        out[s["layer"]] = out.get(s["layer"], 0.0) + own
        for k in kids:
            walk(k)

    for root in children.get(0, []):
        walk(root)
    return out
