#!/usr/bin/env python3
"""Compare benchmark artifacts (the JSON files run.py leaves in
.bench_build/artifacts/).

    python3 perfbench/compare.py A            # one set: medians, quartiles, spread
    python3 perfbench/compare.py A B          # parent A vs change B
    python3 perfbench/compare.py --overhead A # traced minus untraced, per workload

A and B are artifact files or directories of them. Untraced artifacts
give the end-to-end rows; traced ones give the per-layer rows.

Per workload and metric it prints each side's median and quartiles,
the spread (interquartile distance over the median) and, for two sets,
the pairs won by B (runs paired by seed, else in order). The verdict
follows the sandbox rule: a gain needs B to win at least 9/10 of the
pairs and the medians to differ by more than A's interquartile
distance; a metric whose spread exceeds its bound is *unresolved*
unless every B run beats every A run. Bounds come from BENCHMARK.json;
metrics not named there use the largest bound it allows (0.25).
"""
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT_BOUND = 0.25
HIGHER_IS_BETTER = {"stream_sustained_rows_per_s", "spark.parallelism"}
# counts that describe the sample, not the system
NOT_COMPARED = {"alert_latency_samples", "alert_latency_beyond_p95", "measured_s"}


def bounds():
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError:
        return {}
    return {m["name"]: m["bound"] for m in spec.get("end_to_end", [])}


def load(paths):
    arts = []
    for p in paths:
        files = sorted(glob.glob(os.path.join(p, "*.json"))) if os.path.isdir(p) else [p]
        for f in files:
            with open(f) as fh:
                arts.append(json.load(fh))
    return arts


def rows(art):
    """Metric name -> value for one artifact (end to end or per layer)."""
    block = art["per_layer"] if art["header"]["trace"] == "1" else art["end_to_end"]
    return {k: v["value"] for k, v in block.items() if k not in NOT_COMPARED}


def group(arts):
    out = {}
    for a in arts:
        h = a["header"]
        out.setdefault((h["workload"], h["trace"]), []).append(a)
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def spread(xs):
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / med if med else 0.0


def better(metric, b, a):
    return b > a if metric in HIGHER_IS_BETTER else b < a


def header_line(arts):
    h = arts[0]["header"]
    keys = ("cpus", "master", "spark", "scala", "jvm", "heap_mb", "commit", "source_hash")
    return ", ".join(f"{k}={h.get(k)}" for k in keys)


def calib(arts):
    vals = {}
    for a in arts:
        for k, v in a.get("calibration", {}).items():
            vals.setdefault(k, []).append(v)
    return {k: statistics.median(v) for k, v in vals.items()}


def one_set(arts):
    bnd = bounds()
    for (wl, tr), group_arts in sorted(group(arts).items()):
        print(f"== {wl} ({'traced' if tr == '1' else 'untraced'}, {len(group_arts)} runs): "
              + header_line(group_arts))
        print(f"   {'metric':38} {'q1':>12} {'median':>12} {'q3':>12} {'spread':>7} {'bound':>6}")
        for m in sorted(rows(group_arts[0])):
            xs = [rows(a)[m] for a in group_arts if m in rows(a)]
            q1, med, q3 = quartiles(xs)
            b = bnd.get(m, DEFAULT_BOUND)
            s = spread(xs)
            flag = "" if tr == "1" else ("  ok" if s <= b / 3 else "  > bound/3" if s <= b else "  UNSTEADY")
            print(f"   {m:38} {q1:12.4f} {med:12.4f} {q3:12.4f} {s:7.3f} {b:6.2f}{flag}")
        print(f"   calibration medians: {calib(group_arts)}")
        failed = sum(int(a["failed"]) for a in group_arts)
        print(f"   failed operations: {failed} of {sum(int(a['attempted']) for a in group_arts)}")


def pairs(a_arts, b_arts):
    by_seed = {x["header"]["seed"]: x for x in a_arts}
    if all(y["header"]["seed"] in by_seed for y in b_arts):
        return [(by_seed[y["header"]["seed"]], y) for y in b_arts]
    return list(zip(a_arts, b_arts))


def two_sets(a_all, b_all):
    bnd = bounds()
    ga, gb = group(a_all), group(b_all)
    for key in sorted(set(ga) & set(gb)):
        wl, tr = key
        a_arts, b_arts = ga[key], gb[key]
        print(f"== {wl} ({'traced' if tr == '1' else 'untraced'}): "
              f"A {len(a_arts)} runs [{header_line(a_arts)}]")
        print(f"   {' ' * len(wl)}  B {len(b_arts)} runs [{header_line(b_arts)}]")
        print(f"   calibration A {calib(a_arts)}\n   calibration B {calib(b_arts)}")
        print(f"   {'metric':38} {'A q1/med/q3':>30} {'B q1/med/q3':>30} {'won':>7}  verdict")
        for m in sorted(rows(a_arts[0])):
            xa = [rows(x)[m] for x in a_arts if m in rows(x)]
            xb = [rows(x)[m] for x in b_arts if m in rows(x)]
            if not xa or not xb:
                continue
            pa, pb = quartiles(xa), quartiles(xb)
            ps = [(rows(x)[m], rows(y)[m]) for x, y in pairs(a_arts, b_arts)
                  if m in rows(x) and m in rows(y)]
            won = sum(better(m, yb, xa_) for xa_, yb in ps)
            lost = sum(better(m, xa_, yb) for xa_, yb in ps)
            b = bnd.get(m, DEFAULT_BOUND)
            if tr == "1":
                verdict = ""  # per-layer rows have no bound
            elif max(spread(xa), spread(xb)) > b and not all(
                    better(m, y, x) for x in xa for y in xb):
                verdict = "unresolved (spread > bound)"
            elif ps and won >= 0.9 * len(ps) and abs(pb[1] - pa[1]) > pa[2] - pa[0]:
                verdict = "better"
            elif pa[1] and better(m, pa[1], pb[1]) and abs(pb[1] - pa[1]) / pa[1] > b:
                verdict = f"WORSE (> bound {b})"
            else:
                verdict = "no change beyond bound"
            fa = "/".join(f"{v:.4g}" for v in pa)
            fb = "/".join(f"{v:.4g}" for v in pb)
            print(f"   {m:38} {fa:>30} {fb:>30} {won:>3}-{lost:<3}  {verdict}")


def overhead(arts):
    groups = group(arts)
    for wl in sorted({w for w, _ in groups}):
        un, tr = groups.get((wl, "0"), []), groups.get((wl, "1"), [])
        if not un or not tr:
            print(f"== {wl}: needs both traced and untraced runs")
            continue
        print(f"== {wl}: tracing overhead, traced minus untraced medians "
              f"({len(tr)} vs {len(un)} runs)")
        for m in sorted(un[0]["end_to_end"]):
            if m in NOT_COMPARED:
                continue
            u = statistics.median(a["end_to_end"][m]["value"] for a in un)
            t = statistics.median(a["end_to_end"][m]["value"] for a in tr)
            rel = f"{(t - u) / u:+.1%}" if u else ""
            print(f"   {m:38} {u:12.4f} -> {t:12.4f}  {t - u:+.4f} {rel}")


def main(argv):
    if not argv or argv[0] in ("-h", "--help"):
        sys.exit(__doc__)
    if argv[0] == "--overhead":
        overhead(load(argv[1:]))
    elif len(argv) == 1:
        one_set(load(argv))
    else:
        two_sets(load([argv[0]]), load([argv[1]]))


if __name__ == "__main__":
    main(sys.argv[1:])
