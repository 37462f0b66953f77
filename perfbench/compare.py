#!/usr/bin/env python3
"""Compare two sets of benchmark records, for example parent and change.

    python3 perfbench/compare.py BASE_DIR [CHANGE_DIR]

Each directory holds record files as run.py writes them to
.bench_out/records/ (copy them aside between the two builds). For every
workload and end-to-end metric it prints each side's median and
quartiles, the ratio change/base, how many of the seeds both sides ran
the change won, and "unresolved" where either side's spread (IQR over
median) exceeds the metric's bound in BENCHMARK.json. From the traced
records it prints the per-layer deltas, the tracing overhead and the
Server overhead. With one directory it summarizes that set alone.
"""

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

# figures every record keeps beside the gated metrics, printed the same
# way: the wall-clock pass times and rates, which a shared host moves by
# more than the bounds, and the read and write latencies (serve only)
UNGATED = [("cold_pass_s", "lower"), ("warm_pass_s", "lower"), ("stmts_per_s", "higher"),
           ("query_s.p50", "lower"), ("read_ms.p50", "lower"), ("read_ms.p75", "lower"),
           ("write_ms.p50", "lower")]


def load(d):
    recs = []
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(f) as fh:
            try:
                r = json.load(fh)
            except json.JSONDecodeError:
                continue
        if "stamp" in r:
            recs.append(r)
    return recs


def by_run(recs, trace):
    out = {}
    for r in recs:
        if r["stamp"].get("trace") == trace:
            out.setdefault(r["stamp"]["workload"], []).append(r)
    return out


def value(r, name):
    for sect in ("metrics", "latency", "layers"):
        if name in r.get(sect, {}):
            return r[sect][name]["value"]
    return None


def quart(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def spread(xs):
    q1, m, q3 = quart(xs)
    return (q3 - q1) / m if m else 0.0


def fmt(v):
    return f"{v:.4g}"


def e2e_table(base, change, spec):
    bounds = {m["name"]: (m["better"], m["bound"]) for m in spec["end_to_end"]}
    metrics = [(m["name"], m["better"], m["bound"]) for m in spec["end_to_end"]]
    metrics += [(n, b, max(bd for _, bd in bounds.values())) for n, b in UNGATED]
    for w in sorted(set(base) | set(change or {})):
        print(f"\n== {w} (untraced: base {len(base.get(w, []))} runs"
              + (f", change {len(change.get(w, []))} runs)" if change is not None else ")"))
        for name, better, bound in metrics:
            b = {r["stamp"]["seed"]: value(r, name) for r in base.get(w, [])}
            b = {k: v for k, v in b.items() if v is not None}
            if not b:
                continue
            bq = quart(list(b.values()))
            line = f"  {name:16s} base {fmt(bq[1])} [{fmt(bq[0])}, {fmt(bq[2])}] spread {spread(list(b.values())):.3f}"
            if change is not None:
                c = {r["stamp"]["seed"]: value(r, name) for r in change.get(w, [])}
                c = {k: v for k, v in c.items() if v is not None}
                if c:
                    cq = quart(list(c.values()))
                    ratio = cq[1] / bq[1] if bq[1] else float("nan")
                    pairs = sorted(set(b) & set(c))
                    won = sum((c[s] < b[s]) if better == "lower" else (c[s] > b[s]) for s in pairs)
                    unresolved = max(spread(list(b.values())), spread(list(c.values()))) > bound
                    line += (f" | change {fmt(cq[1])} [{fmt(cq[0])}, {fmt(cq[2])}] ratio {ratio:.3f}"
                             f" won {won}/{len(pairs)} common seeds"
                             + (" unresolved" if unresolved else ""))
            print(line)


def layer_table(base, change, base_plain, change_plain):
    for w in sorted(set(base) | set(change or {})):
        print(f"\n== {w} (traced)")
        names = sorted({k for r in base.get(w, []) + (change or {}).get(w, [])
                        for k in r.get("layers", {})})
        for n in names:
            bv = [value(r, n) for r in base.get(w, []) if value(r, n) is not None]
            line = f"  {n:36s} base {fmt(statistics.median(bv)) if bv else '-':>10s}"
            if change is not None:
                cv = [value(r, n) for r in change.get(w, []) if value(r, n) is not None]
                if bv and cv:
                    mb, mc = statistics.median(bv), statistics.median(cv)
                    line += f"  change {fmt(mc):>10s}  delta {fmt(mc - mb):>10s}"
                    if mb:
                        line += f"  ratio {mc / mb:.3f}"
            print(line)
        for label, sides in (("base", (base, base_plain)), ("change", (change, change_plain))):
            traced, plain = sides
            if traced is None:
                continue
            overhead(label, w, traced.get(w, []), plain.get(w, []))


def med(recs, name):
    xs = [value(r, name) for r in recs if value(r, name) is not None]
    return statistics.median(xs) if xs else None


def overhead(label, w, traced, plain):
    for n in ("cold_pass_s", "cold_pass_cpu_s", "stmts_per_s"):
        tv, pv = med(traced, n), med(plain, n)
        if tv is not None and pv:
            print(f"  [{label}] tracing overhead: traced {n} {fmt(tv)} vs untraced {fmt(pv)}"
                  f" ({(tv / pv - 1) * 100:+.1f}%)")
    tcp, local = med(plain, "read_ms.p50"), med(traced, "serve.read_ms.p50")
    if tcp is not None and local is not None:
        print(f"  [{label}] Server.overhead_ms.p50: TCP {fmt(tcp)} - in-process {fmt(local)}"
              f" = {fmt(tcp - local)} ms")


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    base = load(sys.argv[1])
    change = load(sys.argv[2]) if len(sys.argv) == 3 else None
    for label, recs in (("base", base), ("change", change)):
        if recs:
            st = recs[0]["stamp"]
            steal = [float(r["stamp"]["cpu_steal_pct"]) for r in recs if "cpu_steal_pct" in r["stamp"]]
            print(f"{label}: {len(recs)} records, commit {st.get('commit')}, nproc {st.get('nproc')}, "
                  f"{st.get('jvm')}, Spark {st.get('spark')}, heap {st.get('heap')}"
                  + (f", CPU steal median {statistics.median(steal):.1f}% max {max(steal):.1f}%"
                     if steal else ""))
    e2e_table(by_run(base, "0"), by_run(change, "0") if change is not None else None, spec)
    layer_table(by_run(base, "1"), by_run(change, "1") if change is not None else None,
                by_run(base, "0"), by_run(change, "0") if change is not None else {})


if __name__ == "__main__":
    main()
