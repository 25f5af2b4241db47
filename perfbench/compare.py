#!/usr/bin/env python3
"""Compare two sets of benchmark runs, per workload, metric and layer.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds the report files run.py leaves in .bench_out/
(<workload>-seed<N>-trace<0|1>.json), e.g. copied there after running
both commits with the same seeds and --seconds. End-to-end metrics come
from the untraced reports, per-layer metrics from the traced ones.

The rule is the one in the choosing-metrics guide, section 8: runs are
paired by seed; a gain needs the new side to win at least 9 in 10 pairs
(ties count for neither) and the medians to differ by more than the base
side's own quartile spread. A gated end-to-end metric regresses when the
new median is worse than the base median by more than its bound; when
the base spread is wider than the bound it is "unresolved" unless every
new run beats every base run. Counts that should repeat exactly (tasks,
stages, shuffle, plan exchanges, output size) are listed first.
"""
import json
import pathlib
import re
import statistics
import sys

BENCH = json.loads((pathlib.Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
E2E = {m["name"]: m for m in BENCH["end_to_end"]}
LAYER = {m["name"]: m for m in BENCH["per_layer"]}
# (source, name): values that are counts of work, not times
EXACT = [("metrics", "shuffle_mb"), ("metrics", "output_mb"), ("layers", "tasks"),
         ("layers", "stages"), ("layers", "plan_exchanges"), ("layers", "shuffle_write_mb")]
NAME = re.compile(r"(?P<w>.+)-seed(?P<s>-?\d+)-trace(?P<t>[01])\.json$")


def load(d):
    runs = {}
    for p in sorted(pathlib.Path(d).glob("*.json")):
        m = NAME.match(p.name)
        if m:
            runs.setdefault((m["w"], m["t"] == "1"), {})[int(m["s"])] = json.loads(p.read_text())
    return runs


def values(runs, source, name):
    return {s: r[source][name]["value"] for s, r in runs.items()
            if name in r.get(source, {}) and r[source][name]["value"] is not None}


def quart(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def verdict(base, new, better, bound):
    seeds = sorted(set(base) & set(new))
    if not seeds:
        return "no common seeds", ""
    sign = 1 if better == "higher" else -1
    wins = sum(1 for s in seeds if sign * (new[s] - base[s]) > 0)
    losses = sum(1 for s in seeds if sign * (new[s] - base[s]) < 0)
    b1, bm, b3 = quart(list(base.values()))
    n1, nm, n3 = quart(list(new.values()))
    spread = (b3 - b1) / abs(bm) if bm else 0.0
    delta = (nm - bm) / abs(bm) if bm else 0.0
    line = (f"base {bm:.4g} [{b1:.4g}, {b3:.4g}]  new {nm:.4g} [{n1:.4g}, {n3:.4g}]  "
            f"delta {delta:+.1%}  pairs {len(seeds)} won {wins} lost {losses}")
    if wins >= 0.9 * len(seeds) and abs(nm - bm) > (b3 - b1):
        return "better", line
    if bound is not None:
        all_better = all(sign * (x - y) > 0 for x in new.values() for y in base.values())
        if spread > bound and not all_better:
            return "unresolved", line
        if sign * delta < -bound:
            return "WORSE", line
        return "within bound", line
    if losses >= 0.9 * len(seeds) and abs(nm - bm) > (b3 - b1):
        return "worse (no bound)", line
    return "no claim", line


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, new = load(sys.argv[1]), load(sys.argv[2])
    for w in sorted({w for w, _ in base} | {w for w, _ in new}):
        print(f"== {w}")
        print("-- exact repeats (counts; a claim may rest on one only if it repeats exactly)")
        for source, name in EXACT:
            for side, runs in (("base", base), ("new", new)):
                r = runs.get((w, source == "layers"), {})
                vals = values(r, source, name)
                per_pass = [p["shuffle_mb"] for x in r.values() for p in x.get("passes", [])
                            if not p["traced"]] if name == "shuffle_mb" else []
                if vals:
                    distinct = sorted(set(round(v, 6) for v in vals.values()))
                    note = "repeats exactly" if len(distinct) == 1 else f"{len(distinct)} distinct values"
                    passes = (f"; passes: {len(set(round(v, 6) for v in per_pass))} distinct in {len(per_pass)}"
                              if per_pass else "")
                    print(f"  {name:18s} {side:4s} {note} over {len(vals)} runs "
                          f"(min {min(vals.values()):.6g}, max {max(vals.values()):.6g}){passes}")
        print("-- end to end (untraced runs)")
        for name, m in E2E.items():
            v, line = verdict(values(base.get((w, False), {}), "metrics", name),
                              values(new.get((w, False), {}), "metrics", name), m["better"], m["bound"])
            print(f"  {name:18s} {v:14s} {line}")
        print("-- per layer (traced runs)")
        for name, m in LAYER.items():
            v, line = verdict(values(base.get((w, True), {}), "layers", name),
                              values(new.get((w, True), {}), "layers", name), m["better"], None)
            print(f"  {name:30s} {v:16s} {line}")


if __name__ == "__main__":
    main()
