#!/usr/bin/env python3
"""Regenerate perfbench/fingerprints.json, the committed result
fingerprints the curate workload checks every query against.

    python3 perfbench/make_fingerprints.py [--seeds 1 2]

Runs the curate workload once per seed (different query orders) with
fingerprint recording on, then merges: a query whose hash agreed on
every pass of every run keeps its hash; one whose hash varied is
checked by row count only and listed under "count_only"; one whose row
count varied is an error. Run it only on code whose results are known
to be right, and review the diff.
"""

import argparse
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2])
    ap.add_argument("--seconds", type=int, default=35)
    args = ap.parse_args()
    queries, count_only = {}, set()
    runs = []
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_out")) as tmp:
        for s in args.seeds:
            path = os.path.join(tmp, f"curate-{s}.json")
            subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "curate",
                            "--seed", str(s), "--seconds", str(args.seconds), "--trace", "0",
                            "--record-fingerprints", path], cwd=ROOT, check=True,
                           stdout=subprocess.DEVNULL)
            with open(path) as fh:
                runs.append(json.load(fh))
    for name in sorted(runs[0]):
        seen = [r[name] for r in runs]
        rows = {x["rows"] for x in seen}
        if len(rows) != 1 or not all(x["stable_rows"] for x in seen):
            sys.exit(f"{name}: row count differs between runs: {sorted(rows)}")
        hashes = {x["hash"] for x in seen}
        queries[name] = {"rows": rows.pop(), "hash": seen[0]["hash"] or ""}
        if len(hashes) != 1 or None in hashes:
            count_only.add(name)
    out = {"data": "sf0.1", "queries": queries, "count_only": sorted(count_only)}
    with open(os.path.join(HERE, "fingerprints.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"{len(queries)} queries, {len(count_only)} checked by row count only: "
          f"{', '.join(sorted(count_only)) or 'none'}")


if __name__ == "__main__":
    main()
