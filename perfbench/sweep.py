#!/usr/bin/env python3
"""Capacity sweep of fresh_mixed: finds the load where the stream or the
reader stops keeping up, so the benchmark's rates can be set well below it.

    python3 perfbench/sweep.py files 0.1 0.2 0.4 0.8 [--reads-per-s 0] [--seed 1]
    python3 perfbench/sweep.py reads 0.2 0.5 1.0 [--files-per-s 0.2]

Run from the repository root. Each rate is one untraced run of
`run.py --workload fresh_mixed` with that rate overridden; the table
prints, per rate, the workload's summary line: freshness (all files, first
and second half of the window), batches, foreachBatch busy share of the
window, changes per busy second, and read latency and lateness. The
backlog grows where the busy share nears 1 and the second half's freshness
climbs above the first half's; the reader falls behind where its lateness
climbs.
"""
import argparse
import json
import os
import re
import subprocess
import sys

FIELDS = ["files", "batches", "fresh_p50", "first_half_p50", "second_half_p50", "busy_share",
          "changes_per_busy_s", "reads", "read_p50", "read_late_p99"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("what", choices=["files", "reads"])
    ap.add_argument("rates", nargs="+", type=float)
    ap.add_argument("--files-per-s", type=float)
    ap.add_argument("--reads-per-s", type=float)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    a = ap.parse_args()
    run = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    print("rate " + " ".join(FIELDS) + " correct")
    for rate in a.rates:
        knobs = {"files": a.files_per_s, "reads": a.reads_per_s}
        knobs[a.what] = rate
        cmd = [sys.executable, run, "--workload", "fresh_mixed", "--seed", str(a.seed),
               "--seconds", str(a.seconds), "--trace", "0"]
        for k, v in knobs.items():
            if v is not None:
                cmd += [f"--{k}-per-s", str(v)]
        p = subprocess.run(cmd, capture_output=True, text=True)
        line = next((l for l in p.stderr.splitlines() if "[perfbench] fresh_mixed files=" in l), "")
        vals = dict(re.findall(r"(\w+)=([-\d.]+)", line))
        out = [l for l in p.stdout.splitlines() if l.startswith("{")]
        correct = json.loads(out[-1])["correct"] if out else None
        print(f"{rate} " + " ".join(vals.get(f, "-") for f in FIELDS) + f" {correct}", flush=True)


if __name__ == "__main__":
    main()
