"""Arithmetic of the benchmark: interval unions, span self time, percentiles,
failure accounting, and the reduction of one harness run to the metrics
named in BENCHMARK.json. Pure functions over plain data; no I/O."""
import statistics

MB = 1024.0 * 1024.0


def union_length(intervals):
    """Length covered by the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    """The parts of the intervals that fall inside [lo, hi]."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_time(span, children):
    """A span's duration minus the part of it that its children cover."""
    s, e = span
    return (e - s) - union_length(clip(children, s, e))


def percentile(values, q):
    """The q-quantile (0 < q < 1) of values, linear between closest ranks.

    Refuses (ValueError) unless at least ten samples lie above its rank
    q * (n - 1): a p50 needs 20 samples, a p90 92."""
    n = len(values)
    r = q * (n - 1)
    i = int(r)
    if n - 1 - i < 10:
        raise ValueError(f"p{q * 100:g} of {n} samples has {max(n - 1 - i, 0)} beyond it, not 10")
    xs = sorted(values)
    return xs[i] + (xs[i + 1] - xs[i]) * (r - i)


def failures(execs, check_failures):
    """Queries that failed: any execution threw, or the output check failed.

    Returns {query: reason}, in first-seen order."""
    failed = {}
    for e in execs:
        if e.get("error") and e["query"] not in failed:
            failed[e["query"]] = e["error"]
    for q, why in check_failures.items():
        failed.setdefault(q, why)
    return failed


def timed(execs, failed, kind, traced=False):
    """{pass: {query: exec}} of successful executions of one kind; a query
    that failed anywhere in the run is left out of every pass."""
    out = {}
    for e in execs:
        if e["kind"] == kind and e["traced"] == traced and e["query"] not in failed:
            out.setdefault(e["pass"], {})[e["query"]] = e
    return out


def wall_s(e):
    return (e["end"] - e["start"]) / 1e3


def pass_wall(p):
    return sum(wall_s(e) for e in p.values())


def end_to_end(run, prep_s, failed):
    """End-to-end metrics of one untraced run (times in seconds).

    wall_s: median warm-pass wall time; cold_s: the cold pass; setup_s: JVM
    boot plus the median of the set-ups after the first, each its data
    preparation (a cache check) plus session start and table open. The first
    set-up, which pays input generation for a new seed and Spark's one-time
    class loading, is left out: it goes to the report as first_setup_s.
    live_heap_mb: the heap still live after a full GC at the end of the cold
    pass, before storage is reset (what the queries pinned or cached)."""
    execs = run["execs"]
    warm = timed(execs, failed, "warm")
    cold = timed(execs, failed, "cold")
    if not warm or not cold:
        raise ValueError("no successful pass to time")
    setups = [p + s for p, s in zip(prep_s, run["setup_s"])][1:]
    if not setups:
        raise ValueError("setup_s needs a set-up after the first")
    return {
        "wall_s": statistics.median(pass_wall(p) for p in warm.values()),
        "cold_s": pass_wall(next(iter(cold.values()))),
        "setup_s": run["jvm_boot_s"] + statistics.median(setups),
        "live_heap_mb": run["live_heap_mb"],
    }


def query_times(run, failed):
    """{query: median warm wall time} over the untraced warm passes."""
    per = {}
    for p in timed(run["execs"], failed, "warm").values():
        for q, e in p.items():
            per.setdefault(q, []).append(wall_s(e))
    return {q: statistics.median(ts) for q, ts in per.items()}


def assign(t, spans):
    """Index of the span [start, end) that holds time t, else of the nearest."""
    best, dist = None, None
    for i, (s, e) in enumerate(spans):
        if s <= t < e:
            return i
        d = min(abs(t - s), abs(t - e))
        if dist is None or d < dist:
            best, dist = i, d
    return best


def spans_of_pass(p, trace):
    """The span tree of one traced pass, as a list of dicts with `id`,
    `parent`, `query`, `name`, `start` and `end` (epoch ms), plus the
    tracer's counters on job and stage spans.

    query -> build -> jobs and plan phases started while the builder ran;
    query -> execute -> jobs -> stages, and the plan phases of the write.
    `p` maps query -> execution; `trace` holds the run's jobs, stages and
    planning phases. Jobs and phases go to the build or execute span they
    started in (or the nearest one); a stage goes to the latest job that
    lists it and started before it."""
    out, parts = [], []
    for q, e in p.items():
        qid = f"{e['pass']}:{q}"
        out.append(dict(id=qid, parent=None, query=q, name="query",
                        start=e["start"], end=e["end"]))
        for name, s, t in (("build", e["start"], e["build_end"]),
                           ("execute", e["build_end"], e["end"])):
            out.append(dict(id=f"{qid}/{name}", parent=qid, query=q, name=name, start=s, end=t))
            parts.append((out[-1], (s, t)))
    if not parts:
        return out
    lo = min(sp["start"] for sp in out) - 1.0
    hi = max(sp["end"] for sp in out) + 1.0
    inside = lambda x: lo <= x["start"] <= hi
    ivs = [iv for _, iv in parts]
    jobs = []
    for j in trace["jobs"]:
        if inside(j):
            par = parts[assign(j["start"], ivs)][0]
            out.append(dict(id=f"{par['id']}/job{j['id']}", parent=par["id"], query=par["query"],
                            name="job", start=j["start"], end=j["end"]))
            jobs.append((j, out[-1]))
    for f in trace["phases"]:
        if inside(f):
            par = parts[assign(f["start"], ivs)][0]
            out.append(dict(id=f"{par['id']}/{f['name']}@{f['start']:.0f}", parent=par["id"],
                            query=par["query"], name=f["name"], start=f["start"], end=f["end"],
                            plan_nodes=f["plan_nodes"]))
    for st in trace["stages"]:
        owners = [js for j, js in jobs if st["id"] in j["stages"] and j["start"] <= st["start"] + 1.0]
        if owners and st["end"] > 0:
            js = max(owners, key=lambda x: x["start"])
            sp = dict(st, id=f"{js['id']}/stage{st['id']}.{st['attempt']}", parent=js["id"],
                      query=js["query"], name="stage")
            out.append(sp)
    return out


def self_times(spans):
    """{span id: self time in ms} over a span list with parent links."""
    kids = {}
    for sp in spans:
        if sp["parent"] is not None:
            kids.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    return {sp["id"]: self_time((sp["start"], sp["end"]), kids.get(sp["id"], [])) for sp in spans}


PHASES = ("analysis", "optimization", "planning")


def layers_of_pass(p, trace, nproc):
    """Per-layer totals of one traced pass (see spans_of_pass)."""
    spans = spans_of_pass(p, trace)
    own = self_times(spans)
    by = lambda name: [sp for sp in spans if sp["name"] == name]
    kind = {sp["id"]: sp["name"] for sp in spans}
    stages = by("stage")
    stage_ivs = [(s["start"], s["end"]) for s in stages]
    queries = by("query")
    busy = sum(union_length(clip(stage_ivs, q["start"], q["end"])) for q in queries) / 1e3
    wall = sum(q["end"] - q["start"] for q in queries) / 1e3
    task_s = sum(s["run_ms"] for s in stages) / 1e3
    total = lambda key: sum(s[key] for s in stages)
    out = {
        "SparkEntry.build_s": sum(own[sp["id"]] for sp in by("build")) / 1e3,
        "SparkEntry.build_jobs": sum(1 for j in by("job") if kind[j["parent"]] == "build"),
    }
    for ph in PHASES:
        out[f"catalyst.{ph}_s"] = sum(own[sp["id"]] for sp in by(ph)) / 1e3
    out.update({
        "catalyst.plan_nodes": sum(sp["plan_nodes"] for sp in by("analysis")),
        "scheduler.jobs": len(by("job")),
        "scheduler.stages": len(stages),
        "scheduler.tasks": total("tasks"),
        "scheduler.gap_s": wall - busy,
        "exec.stage_busy_s": busy,
        "exec.task_s": task_s,
        "exec.task_cpu_s": total("cpu_ns") / 1e9,
        "exec.task_gc_s": total("gc_ms") / 1e3,
        "exec.core_util": task_s / (nproc * busy) if busy > 0 else 0.0,
        "exec.shuffle_read_mb": total("shuffle_read") / MB,
        "exec.shuffle_write_mb": total("shuffle_write") / MB,
        "exec.spill_mb": total("spill") / MB,
        "exec.input_mb": total("input_bytes") / MB,
        "exec.input_rows": total("input_rows"),
        "exec.result_mb": total("result_bytes") / MB,
    })
    return out


def per_layer(run, failed):
    """Per-layer metrics of one traced run: the median over its traced warm
    passes, codegen from the cold pass (warm passes hit Spark's compile
    cache), and the tracing overhead as traced over untraced warm wall. The
    first warm pass is untraced and still warms the JIT, so the overhead
    leaves it out when a later untraced pass exists."""
    execs = run["execs"]
    traced = timed(execs, failed, "warm", traced=True)
    plain = timed(execs, failed, "warm", traced=False)
    if len(plain) > 1:
        del plain[min(plain)]
    if not traced or not plain:
        raise ValueError("a traced run needs a traced and an untraced warm pass")
    rows = [layers_of_pass(p, run, run["nproc"]) for p in traced.values()]
    out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    cold = next(c for c in run["codegen"] if c["pass"] == 0)
    out["codegen.compile_s"] = cold["compile_s"]
    out["codegen.classes"] = cold["classes"]
    t = statistics.median(pass_wall(p) for p in traced.values())
    u = statistics.median(pass_wall(p) for p in plain.values())
    out["trace.overhead_frac"] = t / u - 1.0
    return out
