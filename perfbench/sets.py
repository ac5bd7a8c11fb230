#!/usr/bin/env python3
"""Runs sets of benchmark runs and checks them against BENCHMARK.json.

    python3 perfbench/sets.py run --out perfbench/results/set-a --seeds 1-10 \
        [--workloads bulk_extract,...] [--trace 0|1]
    python3 perfbench/sets.py check perfbench/results/set-a [perfbench/results/set-b]

`run` makes one `run.py` call per (workload, seed), one after another, and
keeps each call's two output lines as <out>/<workload>-s<seed>-t<trace>.json.
`check` prints, per workload and end-to-end metric, the median and the
inter-quartile spread as a share of the median against the metric's bound
(setup_s is exempt from the spread rule); with a second set it also prints
whether the second median is worse than the first by more than the bound.
"""
import argparse
import glob
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import report  # noqa: E402


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(a, spec):
    os.makedirs(a.out, exist_ok=True)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    for w in workloads:
        for s in seeds(a.seeds):
            t = time.time()
            r = subprocess.run(["python3", "perfbench/run.py", "--workload", w, "--seed", str(s),
                                "--seconds", str(spec["run_seconds"]), "--trace", str(a.trace)],
                               cwd=ROOT, capture_output=True, text=True)
            lines = r.stdout.strip().splitlines()
            rec = {"workload": w, "seed": s, "trace": a.trace, "exit": r.returncode,
                   "wall_s": time.time() - t,
                   "report": json.loads(lines[-2]) if len(lines) >= 2 else None,
                   "result": json.loads(lines[-1]) if lines else None,
                   "stderr": r.stderr if r.returncode else ""}
            with open(os.path.join(a.out, f"{w}-s{s}-t{a.trace}.json"), "w") as fh:
                json.dump(rec, fh, indent=1)
            print(f"{w} seed {s}: exit {r.returncode} in {rec['wall_s']:.0f} s", flush=True)


def load(d):
    out = {}
    for f in sorted(glob.glob(os.path.join(d, "*-t0.json"))):
        with open(f) as fh:
            rec = json.load(fh)
        out.setdefault(rec["workload"], []).append(rec)
    return out


def check(a, spec):
    sets = [load(d) for d in a.sets]
    ok = True
    for w in sorted(sets[0]):
        for m in spec["end_to_end"]:
            rows = []
            for recs in sets:
                vals = [r["result"]["metrics"][m["name"]]["value"] for r in recs.get(w, [])
                        if r["exit"] == 0]
                rows.append(vals)
            meds = [report.median(v) for v in rows if v]
            spreads = [report.spread(v) for v in rows if len(v) > 1]
            line = f"{w:13s} {m['name']:13s} bound {m['bound']:.2f}"
            for v, med, sp in zip(rows, meds, spreads):
                flag = "" if m["name"] == "setup_s" or sp <= m["bound"] / 3 else " WIDE"
                ok = ok and (m["name"] == "setup_s" or sp <= m["bound"])
                line += f" | n={len(v)} median {med:.4g} spread {sp:.3f}{flag}"
            if len(meds) == 2:
                worse = report.regressed(meds[0], meds[1], m["better"], m["bound"])
                ok = ok and not worse
                line += " | second " + ("WORSE" if worse else "within bound")
            print(line)
        fails = [r for recs in sets for r in recs.get(w, []) if r["exit"] != 0]
        if fails:
            ok = False
            print(f"{w}: {len(fails)} run(s) exited non-zero")
    print("accepted" if ok else "NOT accepted")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--out", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--workloads", default="")
    r.add_argument("--trace", type=int, default=0)
    c = sub.add_parser("check")
    c.add_argument("sets", nargs="+")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.exit(run(a, spec) if a.cmd == "run" else check(a, spec))


if __name__ == "__main__":
    main()
