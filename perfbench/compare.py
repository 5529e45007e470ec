#!/usr/bin/env python3
"""Summarise or compare benchmark result records.

    python3 perfbench/compare.py [RESULT ...]
        every metric of BENCHMARK.json by name and unit, per workload:
        sample count, median, quartiles and spread, plus the host anchor
        and the tracing overhead

    python3 perfbench/compare.py --parent RESULT ... --change RESULT ...
        per workload and end-to-end metric: both sides' medians and
        quartiles, the fraction of seed-matched pairs the change wins, and
        the verdict by the rules of choosing-metrics section 8

A RESULT is a record file written by perfbench/run.py or a directory that
holds them (default: .bench_build/perfbench/results).
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(paths):
    files = []
    for p in paths:
        if os.path.isdir(p):
            for d, _, fs in os.walk(p):
                files += [os.path.join(d, f) for f in fs if f.endswith(".json")]
        else:
            files.append(p)
    recs = []
    for f in sorted(files):
        with open(f) as fh:
            r = json.load(fh)
        if "workload" in r and "metrics" in r:
            recs.append(r)
    return recs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def fmt(v):
    return f"{v:.4g}" if isinstance(v, (int, float)) else str(v)


def by_workload(recs, trace):
    out = {}
    for r in recs:
        if bool(r["trace"]) == trace:
            out.setdefault(r["workload"], []).append(r)
    return out


def summary(recs, spec):
    for trace, key in ((False, "end_to_end"), (True, "per_layer")):
        for wl, rs in sorted(by_workload(recs, trace).items()):
            print(f"\n== {wl}  ({'traced' if trace else 'timed'}, {len(rs)} runs)")
            print(f"{'metric':32} {'unit':7} {'n':>3} {'median':>11} {'q1':>11} {'q3':>11} {'iqr/med':>8}")
            for m in spec[key]:
                xs = [r["metrics"][m["name"]] for r in rs
                      if isinstance(r["metrics"].get(m["name"]), (int, float))]
                if not xs:
                    print(f"{m['name']:32} {m['unit']:7}   0")
                    continue
                q1, med, q3 = quartiles(xs)
                spread = (q3 - q1) / med if med else float("nan")
                print(f"{m['name']:32} {m['unit']:7} {len(xs):3} {fmt(med):>11} {fmt(q1):>11} "
                      f"{fmt(q3):>11} {spread:8.3f}")
            failed = sum(r["failed"] for r in rs)
            attempted = sum(r["attempted"] for r in rs)
            print(f"failed {failed}/{attempted}; correct in {sum(bool(r['correct']) for r in rs)}/{len(rs)} runs")
            anchors = [r["detail"]["anchor"] for r in rs if "anchor" in r.get("detail", {})]
            if anchors:
                par = statistics.median(a["calibParSec"] for a in anchors)
                ser = statistics.median(a["calibSerSec"] for a in anchors)
                heads = sorted({str(r.get("head") or r.get("source_sha256", "?")[:12]) for r in rs})
                print(f"anchor: calibParSec {par:.3f}  calibSerSec {ser:.3f}  "
                      f"nproc {sorted({a['nproc'] for a in anchors})}  source {heads}")
    timed = by_workload(recs, False)
    for wl, rs in sorted(by_workload(recs, True).items()):
        if wl in timed:
            t = statistics.median(r["metrics"]["traced.query_geomean_ms"] for r in rs)
            u = statistics.median(r["metrics"]["query_geomean_ms"] for r in timed[wl])
            print(f"tracing overhead on {wl}: query_geomean_ms {u:.4g} timed vs {t:.4g} traced "
                  f"({(t / u - 1) * 100:+.1f}%)")


def compare(parent, change, spec):
    pw, cw = by_workload(parent, False), by_workload(change, False)
    for wl in sorted(set(pw) & set(cw)):
        ps, cs = pw[wl], cw[wl]
        print(f"\n== {wl}  (parent {len(ps)} runs, change {len(cs)} runs)")
        print(f"{'metric':20} {'unit':5} {'parent med [q1,q3]':>28} {'change med [q1,q3]':>28} "
              f"{'delta':>7} {'wins':>6}  verdict")
        pseed = {r["seed"]: r for r in ps}
        pairs = [(pseed[r["seed"]], r) for r in cs if r["seed"] in pseed]
        if not pairs:
            pairs = list(zip(ps, cs))
        for m in spec["end_to_end"]:
            name, lower = m["name"], m["better"] == "lower"
            px = [r["metrics"][name] for r in ps]
            cx = [r["metrics"][name] for r in cs]
            p1, pm, p3 = quartiles(px)
            c1, cm, c3 = quartiles(cx)
            better = (lambda c, p: c < p) if lower else (lambda c, p: c > p)
            wins = sum(better(c["metrics"][name], p["metrics"][name]) for p, c in pairs)
            win_frac = wins / len(pairs) if pairs else 0.0
            worse = (cm - pm) / pm if lower else (pm - cm) / pm
            if win_frac >= 0.9 and abs(cm - pm) > (p3 - p1) and worse < 0:
                verdict = "gain"
            elif worse > m["bound"]:
                verdict = "regression"
            elif (p3 - p1) / pm > m["bound"] and not all(better(c, p) for c in cx for p in px):
                verdict = "unresolved"
            else:
                verdict = "within bound"
            print(f"{name:20} {m['unit']:5} {fmt(pm):>9} [{fmt(p1)},{fmt(p3)}]".ljust(64)
                  + f"{fmt(cm):>9} [{fmt(c1)},{fmt(c3)}]".ljust(30)
                  + f"{(cm / pm - 1) * 100:+6.1f}% {win_frac:6.2f}  {verdict}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("results", nargs="*")
    ap.add_argument("--parent", nargs="+")
    ap.add_argument("--change", nargs="+")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.parent or a.change:
        if not (a.parent and a.change):
            ap.error("--parent and --change go together")
        compare(load(a.parent), load(a.change), spec)
    else:
        summary(load(a.results or [os.path.join(ROOT, ".bench_build", "perfbench", "results")]), spec)


if __name__ == "__main__":
    main()
