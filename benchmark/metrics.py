"""Pure helpers that turn a run record into metrics.

A run record is the JSON the JVM side writes: spans (operations,
generations, passes, set-up), samples, values, checks and, in a traced
run, the Spark jobs, stages and SQL planning phases seen through the
listener APIs. Nothing here touches the file system or a clock.
"""

import math
import statistics

# A failed operation has no latency; it counts as missing every limit.
FAILED = math.inf
# What a metric built on a failed operation reports (JSON has no inf).
FAILED_VALUE = 1e12
# The host probe's wall time (ms) on a typical 4-core host. Timings are
# reported at this host speed (see `end_to_end`).
HOST_PROBE_REF_MS = 50.0
# How strongly the timings follow the probe: log(timing) against
# log(probe) over 40 runs of both workloads had slopes of 0.3 to 0.8.
# Dividing by the full host factor over-corrects and adds the probe's
# own noise; dividing by its square root steadies every timing.
HOST_ELASTICITY = 0.5


class TailTooShort(ValueError):
    """Fewer samples lie beyond a percentile than its rule requires."""


def percentile(values, q, min_tail=10):
    """Nearest-rank percentile `q` (0 < q < 1) of `values`.

    Returns (value, beyond): `beyond` is how many samples lie above the
    chosen rank. Raises TailTooShort when fewer than `min_tail` do, so
    that a p90 needs at least 100 samples. Failed operations enter as
    +inf and so sort above every real latency."""
    if not 0 < q < 1:
        raise ValueError("q must lie strictly between 0 and 1")
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise TailTooShort("no samples")
    rank = max(1, math.ceil(q * n))
    beyond = n - rank
    if beyond < min_tail:
        raise TailTooShort(f"{beyond} of {n} samples beyond p{round(q * 100)}, "
                           f"need {min_tail}")
    return xs[rank - 1], beyond


def highest_percentile(values, min_tail=10):
    """The highest whole percentile above the median that keeps
    `min_tail` samples beyond it: (percent, value, beyond), or None when
    there are too few samples for any."""
    for pct in range(99, 50, -1):
        try:
            v, beyond = percentile(values, pct / 100, min_tail)
            return pct, v, beyond
        except TailTooShort:
            continue
    return None


def trimmed_mean(values, cut=0.1):
    """Mean of `values` without the lowest and highest `cut` share. Any
    failed operation (+inf) makes it infinite: trimming never hides a
    failure."""
    xs = sorted(values)
    if not xs:
        return math.nan
    if math.isinf(xs[-1]):
        return math.inf
    k = int(len(xs) * cut)
    return statistics.fmean(xs[k:len(xs) - k])


def finite(v):
    return FAILED_VALUE if math.isinf(v) else v


def median(values):
    return statistics.median(values) if values else math.nan


def quartiles(values):
    """(q1, median, q3) as `statistics.quantiles(values, n=4)` gives them."""
    if len(values) < 2:
        v = values[0] if values else math.nan
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Total length covered by `intervals` [(start, end)], clipped to
    [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children):
    """A span's duration minus what its child spans cover inside it."""
    a, b = span["start_ms"], span["end_ms"]
    return (b - a) - union_length(
        [(c["start_ms"], c["end_ms"]) for c in children], a, b)


def job_interval(job):
    return job["start_ms"], job["end_ms"] if job["end_ms"] >= 0 else job["start_ms"]


def attribute_jobs(spans, jobs):
    """Map span id -> list of jobs that ran for it.

    A span with a job group owns exactly the jobs tagged with that
    group. A span without one (a generation inside `Sga.runLoop`) owns
    the jobs that started inside its time window (start, end]."""
    by_group = {}
    for j in jobs:
        if j["group"]:
            by_group.setdefault(j["group"], []).append(j)
    starts = sorted(jobs, key=lambda j: j["start_ms"])
    out = {}
    for s in spans:
        if s.get("group"):
            out[s["id"]] = by_group.get(s["group"], [])
        else:
            out[s["id"]] = [j for j in starts
                            if s["start_ms"] < j["start_ms"] <= s["end_ms"]]
    return out


def driver_gap_ms(span, jobs):
    """Span wall time not covered by any of its Spark jobs."""
    return self_time(span, [{"start_ms": a, "end_ms": b}
                            for a, b in map(job_interval, jobs)])


def stage_totals(jobs, stages_by_id, keep=lambda st: True):
    """Sum stage counters over the distinct stages of `jobs`."""
    seen, tot = set(), {"cpu_ns": 0, "gc_ms": 0, "shuffle_write": 0,
                        "shuffle_read": 0, "spill": 0, "tasks": 0, "records_read": 0}
    for j in jobs:
        for sid in j["stages"]:
            st = stages_by_id.get(sid)
            if st is None or sid in seen or not keep(st):
                continue
            seen.add(sid)
            for k in tot:
                tot[k] += st[k]
    return tot


def duration_ms(span):
    return span["end_ms"] - span["start_ms"] if span["ok"] else FAILED


def timed(spans, cls=None, kind=None):
    return [s for s in spans if s.get("timed")
            and (cls is None or s["cls"] == cls)
            and (kind is None or s["kind"] == kind)]


# ---- end-to-end metrics ----

def end_to_end(record, scaled=True):
    """The end-to-end metrics of a run: {name: value}.

    Every workload reports the same three: `setup_s`, and the typical
    latency of its two operation types, `primary_ms` and `secondary_ms`:

    - ga: the 10 % trimmed mean of the SGA generations (`sga.gen_s`),
      and the median over the timed cGA runs of their milliseconds per
      iteration;
    - tables: the 10 % trimmed mean of the commits and of the reads. The
      mix holds classes an order of magnitude apart, so a median sits on
      a class boundary and jumps; the trimmed mean weighs every class by
      its fixed share of the mix.

    The shared host's speed drifts by a quarter and more over minutes,
    and it moves every timing of a run together with the host probe the
    run interleaves with its operations. So the two operation timings
    are reported at a reference host speed: raw divided by the host
    factor (`host_factor`) raised to HOST_ELASTICITY. `scaled=False`
    gives the raw figures. A failed operation counts as an infinitely
    slow one."""
    spans = record["spans"]
    scale = host_factor(record) ** -HOST_ELASTICITY if scaled else 1.0
    out = {"setup_s": record["setup"]["setup_s"]}
    if record["workload"] == "ga":
        gens = [duration_ms(g) for g in timed(spans, "generation")]
        out["primary_ms"] = finite(trimmed_mean(gens) * scale)
        per_iter = [duration_ms(s) / s["iterations"] if s["ok"] else FAILED
                    for s in timed(spans, "cga_run")]
        out["secondary_ms"] = finite(median(per_iter) * scale)
    else:
        for name, kind in (("primary_ms", "commit"), ("secondary_ms", "read")):
            out[name] = finite(trimmed_mean(table_latencies(spans, kind)) * scale)
    return out


def host_factor(record):
    """How much slower than the reference the host ran during the
    measuring window: median host probe time over the reference."""
    return median(record["samples"]["host_probe_ms"]) / HOST_PROBE_REF_MS


def table_latencies(spans, kind):
    return [duration_ms(s) for s in timed(spans, kind=kind)
            if s["layer"] == "graft.sources"]


def named_figures(record):
    """The workload's figures by their own names: each timing as its
    median and the highest percentile with ten samples beyond it, with
    the sample count. [(name, value, unit, note)]"""
    spans, samples = record["spans"], record["samples"]
    if record["workload"] == "ga":
        timings = [("sga.gen_s", samples.get("sga.gen_s", []), "s"),
                   ("cga.converge_s", samples.get("cga.converge_s", []), "s")]
    else:
        timings = [(f"tables.{k}_ms", table_latencies(spans, k), "ms")
                   for k in ("commit", "read")]
    rows = []
    for name, xs, unit in timings:
        rows.append((f"{name}.p50", finite(median(xs)), unit, f"{len(xs)} samples"))
        top = highest_percentile(xs)
        if top is not None:
            pct, v, beyond = top
            rows.append((f"{name}.p{pct}", finite(v), unit,
                         f"{len(xs)} samples, {beyond} beyond"))
    probe = samples.get("host_probe_ms", [])
    rows.append(("host_probe_ms", median(probe), "ms",
                 f"{len(probe)} samples; host factor {host_factor(record):.4f}"))
    if record["workload"] == "ga":
        its = samples.get("cga.iterations", [])
        rows.append(("cga.iterations", median(its), "count",
                     f"per sub-seed: {sorted(set(int(i) for i in its))}"))
    return rows


# ---- per-layer metrics (traced run) ----

def _median_or_zero(values):
    return statistics.median(values) if values else 0.0


def per_layer(record):
    """Every per-layer metric of a traced run: {name: value}."""
    spans = record["spans"]
    jobs = record["jobs"]
    stages = {s["id"]: s for s in record["stages"]}
    owned = attribute_jobs(spans, jobs)
    phases = record["sql_phases"]
    values = record["values"]
    m = {}

    # graft.sga: timed generations
    gens = timed(spans, "generation")
    pop = gens[0]["pop"] if gens else 1
    per = []
    for g in gens:
        js = owned[g["id"]]
        mix = stage_totals(js, stages, lambda st: st["shuffle_write"] > 0)
        breed = stage_totals(js, stages, lambda st: st["shuffle_read"] > 0)
        allst = stage_totals(js, stages)
        per.append((len(js), driver_gap_ms(g, js) / 1000.0, mix["cpu_ns"] / 1e9,
                    mix["shuffle_write"] / pop, breed["cpu_ns"] / 1e9,
                    g.get("gc_ms", 0) / 1000.0, allst["spill"]))
    names = ["sga.gen.jobs", "sga.gen.driver_gap_s", "sga.mix.task_cpu_s",
             "sga.mix.shuffle_bytes_per_indiv", "sga.breed.task_cpu_s",
             "sga.gen.gc_s", "sga.gen.spill_bytes"]
    for i, n in enumerate(names):
        m[n] = _median_or_zero([p[i] for p in per])

    # graft.core
    m["core.tournament.ns_per_indiv"] = values.get("core.tournament.ns_per_indiv", 0.0)
    m["core.popcount.ns_per_indiv"] = values.get("core.popcount.ns_per_indiv", 0.0)

    # graft.cga: timed runs to convergence
    runs = [s for s in timed(spans, "cga_run") if s["ok"]]
    iters = sum(s.get("iterations", 0) for s in runs) or 1
    cjobs = [j for s in runs for j in owned[s["id"]]]
    m["cga.iterations"] = _median_or_zero([s.get("iterations", 0) for s in runs])
    m["cga.iter.jobs"] = len(cjobs) / iters
    m["cga.iter.tasks"] = stage_totals(cjobs, stages)["tasks"] / iters
    m["cga.iter.job_ms"] = _median_or_zero([b - a for a, b in map(job_interval, cjobs)])
    m["cga.iter.driver_gap_ms"] = sum(driver_gap_ms(s, owned[s["id"]]) for s in runs) / iters

    # graft.pipeline / graft.functions: timed curation passes and stages
    passes = [s for s in timed(spans, "curate_pass") if s["ok"]]
    pp = []
    for p in passes:
        js = owned[p["id"]]
        t = stage_totals(js, stages)
        pp.append((len(js), t["cpu_ns"] / 1e9, t["shuffle_write"], t["gc_ms"] / 1000.0,
                   driver_gap_ms(p, js) / 1000.0))
    for i, n in enumerate(["pipeline.pass.jobs", "pipeline.pass.task_cpu_s",
                           "pipeline.pass.shuffle_bytes", "pipeline.pass.gc_s",
                           "pipeline.pass.driver_gap_s"]):
        m[n] = _median_or_zero([p[i] for p in pp])
    for st in ("boilerplate", "exact", "neardup", "decontam", "pack"):
        m[f"pipeline.{st}.s"] = values.get(f"pipeline.{st}.s", 0.0)
        m[f"pipeline.{st}.rows_out"] = values.get(f"pipeline.{st}.rows_out", 0)

    # graft.plans: planning phases summed per pass and per SQL statement
    def phase_sums(span):
        inside = [p for p in phases if span["start_ms"] - 1 <= p["at_ms"] <= span["end_ms"]]
        return [sum(p[k] for p in inside)
                for k in ("analysis_ms", "optimization_ms", "planning_ms")]
    sql_ops = [s for s in timed(spans) if s["ok"] and s["cls"] in SQL_CLASSES]
    for scope, group in (("pass", passes), ("sql", sql_ops)):
        sums = [phase_sums(s) for s in group]
        for i, k in enumerate(("analysis_ms", "optimization_ms", "planning_ms")):
            m[f"plans.{scope}.{k}"] = _median_or_zero([x[i] for x in sums])

    # graft.sources: per operation class and table-level
    tops = [s for s in timed(spans) if s["layer"] == "graft.sources"]
    for cls in SOURCE_CLASSES:
        ops = [s for s in tops if s["cls"] == cls]
        ok = [s for s in ops if s["ok"]]
        m[f"sources.{cls}.ms"] = finite(_median_or_zero([duration_ms(s) for s in ops]))
        m[f"sources.{cls}.jobs"] = _median_or_zero([len(owned[s["id"]]) for s in ok])
        m[f"sources.{cls}.driver_gap_ms"] = _median_or_zero(
            [driver_gap_ms(s, owned[s["id"]]) for s in ok])
    commits = [s for s in tops if s["kind"] == "commit" and s["ok"]]
    reads = [s for s in tops if s["kind"] == "read" and s["ok"]]
    writes = [s for s in commits if s["cls"] != "maintenance"]
    rows = sum(s.get("rows", 0) for s in writes)
    m["sources.commit.bytes_written_per_row"] = (
        sum(s.get("fs_bytes_written", 0) for s in writes) / rows if rows else 0.0)
    m["sources.commit.files_written"] = _median_or_zero([s.get("files_written", 0) for s in commits])
    m["sources.read.rows_scanned"] = _median_or_zero(
        [stage_totals(owned[s["id"]], stages)["records_read"] for s in reads])
    m["sources.read.bytes_read"] = _median_or_zero([s.get("fs_bytes_read", 0) for s in reads])
    m["sources.table.files_live"] = values.get("sources.table.files_live", 0)
    m["sources.table.space_amp"] = values.get("sources.table.space_amp", 0.0)
    maint = [s for s in commits if s["cls"] == "maintenance"]
    m["sources.maintenance.bytes_rewritten"] = _median_or_zero(
        [s.get("fs_bytes_written", 0) for s in maint])
    read_p50 = _median_or_zero([duration_ms(s) for s in reads])
    after = []
    for i, s in enumerate(tops):
        if s["cls"] == "maintenance":
            nxt = next((r for r in tops[i + 1:] if r["kind"] == "read"), None)
            if nxt is not None and nxt["ok"]:
                after.append(duration_ms(nxt))
    m["sources.maintenance.stall_ms"] = _median_or_zero(after) - read_p50 if after else 0.0

    # jvm
    m["jvm.heap_peak_mb"] = record["jvm"]["heap_peak_mb"]
    m["jvm.gc_s"] = record["jvm"]["gc_ms"] / 1000.0
    return m


SQL_CLASSES = ("sql_count", "sql_merge", "sql_median")
SOURCE_CLASSES = ("append", "merge", "sql_merge", "update", "delete", "maintenance",
                  "point_read", "sql_count", "scan_agg", "time_travel", "changes",
                  "sql_median")


def span_tree(record):
    """Spans nested workload -> run -> operation/generation/pass -> job
    -> stage, each with its self time (ms)."""
    spans = record["spans"]
    jobs = record["jobs"]
    stages = {s["id"]: s for s in record["stages"]}
    owned = attribute_jobs(spans, jobs)
    m = record["measure"]
    # generations nest in the SGA run whose window holds them
    runs = [s for s in spans if s["cls"] == "sga_run"]
    top, nested = [], {}
    for s in spans:
        if s["cls"] == "generation":
            parent = next((r for r in runs if r["start_ms"] <= s["start_ms"]
                           and s["end_ms"] <= r["end_ms"] + 1), None)
            if parent is not None:
                nested.setdefault(parent["id"], []).append(s)
                continue
        top.append(s)

    def stage_node(sid):
        st = stages.get(sid, {})
        a, b = st.get("submit_ms", -1), st.get("complete_ms", -1)
        return {"name": f"stage {sid}", "layer": "spark.stage", "start_ms": a,
                "end_ms": b, "self_ms": max(0, b - a) if a >= 0 and b >= 0 else 0,
                "counters": {k: st.get(k, 0) for k in
                             ("tasks", "cpu_ns", "gc_ms", "shuffle_write", "shuffle_read",
                              "spill", "records_read")},
                "children": []}

    def job_node(j):
        kids = [stage_node(sid) for sid in j["stages"]
                if stages.get(sid, {}).get("tasks", 0) > 0]
        a, b = job_interval(j)
        node = {"name": f"job {j['id']}", "layer": "spark.job", "start_ms": a,
                "end_ms": b, "children": kids}
        node["self_ms"] = self_time(node, [k for k in kids if k["start_ms"] >= 0])
        return node

    def node(s):
        kids = [node(c) for c in nested.get(s["id"], [])]
        if not kids:
            kids = [job_node(j) for j in owned[s["id"]]]
        n = {"name": s["cls"], "layer": s["layer"], "kind": s["kind"],
             "start_ms": s["start_ms"], "end_ms": s["end_ms"], "ok": s["ok"],
             "attrs": {k: v for k, v in s.items() if k not in
                       ("layer", "cls", "kind", "start_ms", "end_ms", "ok")},
             "children": kids}
        n["self_ms"] = self_time(n, kids)
        return n

    run = {"name": "run", "layer": "run", "start_ms": record["setup"]["jvm_start_ms"],
           "end_ms": max([m["end_ms"]] + [s["end_ms"] for s in spans]),
           "children": [node(s) for s in top]}
    run["self_ms"] = self_time(run, run["children"])
    return {"name": record["workload"], "layer": "workload", "seed": record["seed"],
            "children": [run]}
