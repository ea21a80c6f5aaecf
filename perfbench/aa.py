#!/usr/bin/env python3
"""Same-code A/A check: run the benchmark over a set of seeds, then compare
two such sets.

    python3 perfbench/aa.py run A.json [--seeds 1-10]
    python3 perfbench/aa.py compare A.json B.json

`run` records every end-to-end metric of every run (untraced, BENCHMARK.json's
run_seconds). `compare` prints, per workload and metric, each set's median
and quartiles, the spread (interquartile range over median) and whether the
two sets agree: each spread within the metric's bound, and the medians no
further apart, in either direction, than the bound. Exit code 1 if any pair
disagrees. Run from the repository root.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def seeds(spec: str) -> list:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(args, bench: dict) -> None:
    out = {}
    for w in [w["name"] for w in bench["workloads"]]:
        for s in seeds(args.seeds):
            t0 = time.time()
            p = subprocess.run(
                bench["command"] + ["--workload", w, "--seed", str(s),
                                    "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                sys.exit(f"{w} seed {s}: benchmark failed (exit {p.returncode})")
            res = json.loads(lines[-1])
            if not res["correct"] or res["failed"]:
                sys.exit(f"{w} seed {s}: incorrect result {res}")
            for m, v in res["metrics"].items():
                out.setdefault(w, {}).setdefault(m, []).append(v["value"])
            print(f"{w} seed {s} ({time.time() - t0:.0f} s): " + " ".join(
                f"{m}={v['value']:.4g}" for m, v in res["metrics"].items()), flush=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)


def summary(values: list) -> tuple:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3, (q3 - q1) / med


def compare(args, bench: dict) -> None:
    with open(args.a) as f:
        a = json.load(f)
    with open(args.b) as f:
        b = json.load(f)
    ok = True
    print(f"{'workload':13} {'metric':12} {'A q1/med/q3':>30} {'B q1/med/q3':>30}"
          f" {'spreadA':>8} {'spreadB':>8} {'drift':>7} {'bound':>6}  agree")
    for w in sorted(set(a) & set(b)):
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            if name not in a[w] or name not in b[w]:
                continue
            qa, qb = summary(a[w][name]), summary(b[w][name])
            drift = (qb[1] - qa[1]) / qa[1]
            agree = qa[3] <= bound and qb[3] <= bound and abs(drift) <= bound
            ok &= agree
            print(f"{w:13} {name:12} {qa[0]:9.4g}/{qa[1]:9.4g}/{qa[2]:9.4g}"
                  f" {qb[0]:9.4g}/{qb[1]:9.4g}/{qb[2]:9.4g}"
                  f" {qa[3]:8.3f} {qb[3]:8.3f} {drift:+7.3f} {bound:6.2f}  {'yes' if agree else 'NO'}")
    sys.exit(0 if ok else 1)


def main() -> None:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("out")
    r.add_argument("--seeds", default="1-10")
    c = sub.add_parser("compare")
    c.add_argument("a")
    c.add_argument("b")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    (run if args.cmd == "run" else compare)(args, bench)


if __name__ == "__main__":
    main()
