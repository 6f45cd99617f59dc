"""Compare two sets of benchmark runs, or diff two traced runs.

    python3 benchmark/compare.py runs BASE_DIR NEW_DIR
    python3 benchmark/compare.py traces BASE_TRACE NEW_TRACE

`runs`: each directory holds result files as `run.py` writes them under
`.bench_build/graftbench/results` (one JSON per workload, seed and trace
flag; copy the directory away after each set). For every workload and
end-to-end metric it prints each side's median and quartiles, how many
seed-paired runs each side won, and "unresolved" where the base side's
own spread (interquartile range over median) exceeds the metric's bound
in BENCHMARK.json: such a difference cannot be told from noise. Each
timing is shown twice: as gated (scaled by the host probe) and raw.

`traces`: two span files as a traced `run.py` writes them under
`.bench_build/graftbench/traces`; prints every per-layer counter of both
and its change, largest relative change first.
"""

import json
import math
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
from metrics import quartiles  # noqa: E402

SPEC = Path(__file__).resolve().parent.parent / "BENCHMARK.json"


def load_runs(d):
    """{workload: {seed: {metric: value}}} of the untraced results in
    `d`: the gated end-to-end metrics, and each raw timing as
    `raw.<metric>`."""
    out = {}
    for f in sorted(Path(d).glob("*.json")):
        r = json.loads(f.read_text())
        if r.get("trace"):
            continue
        v = dict(r["end_to_end"])
        v.update({f"raw.{k}": x for k, x in r.get("raw", {}).items() if k != "setup_s"})
        out.setdefault(r["workload"], {})[r["seed"]] = v
    return out


def spread(values):
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else math.inf


def pair_wins(base, new, better):
    """(base wins, new wins) over the seeds both sides ran."""
    bw = nw = 0
    for seed in sorted(set(base) & set(new)):
        b, n = base[seed], new[seed]
        if b == n:
            continue
        new_better = n < b if better == "lower" else n > b
        nw += new_better
        bw += not new_better
    return bw, nw


def compare_runs(base_dir, new_dir, spec):
    base, new = load_runs(base_dir), load_runs(new_dir)
    lines = []
    for wl in sorted(set(base) | set(new)):
        lines.append(f"workload {wl}: base {len(base.get(wl, {}))} runs, "
                     f"new {len(new.get(wl, {}))} runs")
        metrics = list(spec["end_to_end"])
        metrics += [dict(m, name=f"raw.{m['name']}") for m in spec["end_to_end"]
                    if m["name"] != "setup_s"]
        for m in metrics:
            name = m["name"]
            b = {s: v[name] for s, v in base.get(wl, {}).items() if name in v}
            n = {s: v[name] for s, v in new.get(wl, {}).items() if name in v}
            if not b or not n:
                lines.append(f"  {name}: missing on one side")
                continue
            bq, nq = quartiles(list(b.values())), quartiles(list(n.values()))
            change = (nq[1] - bq[1]) / bq[1] if bq[1] else math.inf
            bw, nw = pair_wins(b, n, m["better"])
            base_spread = spread(list(b.values()))
            verdict = ("unresolved" if base_spread > m["bound"] else
                       "worse" if (change > m["bound"] if m["better"] == "lower"
                                   else -change > m["bound"]) else "within bound")
            lines.append(
                f"  {name} [{m['unit']}, {m['better']} is better, bound {m['bound']}]: "
                f"base {bq[1]:.4g} ({bq[0]:.4g}..{bq[2]:.4g}), "
                f"new {nq[1]:.4g} ({nq[0]:.4g}..{nq[2]:.4g}), change {change:+.1%}, "
                f"pairs won base {bw} / new {nw}, base spread {base_spread:.1%}: {verdict}")
    return lines


def diff_traces(base_file, new_file, spec):
    b = json.loads(Path(base_file).read_text())["per_layer"]
    n = json.loads(Path(new_file).read_text())["per_layer"]
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    rows = []
    for name in sorted(set(b) | set(n)):
        bv, nv = b.get(name), n.get(name)
        if bv is None or nv is None:
            rows.append((math.inf, f"  {name}: only in {'new' if bv is None else 'base'}"))
            continue
        rel = (nv - bv) / abs(bv) if bv else (0.0 if nv == bv else math.inf)
        rows.append((abs(rel), f"  {name} [{units.get(name, '')}]: {bv:.6g} -> {nv:.6g} "
                               f"({nv - bv:+.6g}, {rel:+.1%})"))
    rows.sort(key=lambda r: -r[0])
    return [r[1] for r in rows]


def main(argv):
    if len(argv) != 4 or argv[1] not in ("runs", "traces"):
        raise SystemExit(__doc__)
    spec = json.loads(SPEC.read_text())
    fn = compare_runs if argv[1] == "runs" else diff_traces
    print("\n".join(fn(argv[2], argv[3], spec)))


if __name__ == "__main__":
    main(sys.argv)
