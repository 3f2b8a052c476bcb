#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <fresh_mixed|bulk_ingest|analytics_suite>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the library and the benchmark from
source (perfbench/build.py), runs one workload in one JVM with local[nproc],
and prints the result as the last line of standard output. With --trace 1
the span file is written to .bench_build/spans/<workload>-<seed>.jsonl.
--files-per-s and --reads-per-s override fresh_mixed's load rates; they are
for the capacity sweep (perfbench/sweep.py), not for benchmark runs.
"""
import argparse
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["fresh_mixed", "bulk_ingest", "analytics_suite"]
RUN_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--files-per-s", type=float)
    ap.add_argument("--reads-per-s", type=float)
    a = ap.parse_args()

    root = os.getcwd()
    corpus = os.path.join(root, "perfbench", "corpus")
    if not os.path.isdir(corpus):
        raise SystemExit("perfbench: perfbench/corpus not found; run from the repository root")
    cp = build.build(root)

    work = os.path.join(root, ".bench_build", "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    knobs = []
    for name in ("files_per_s", "reads_per_s"):
        if getattr(a, name) is not None:
            knobs += ["--" + name.replace("_", "-"), str(getattr(a, name))]
    # C1 only: a run lives about a minute on a few cores, and C2's compile
    # threads would compete with Spark's task threads for most of it
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={tmp}", "-cp", cp] + build.jvm_flags() + build.archive_flags(root) +
           ["graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work,
            "--corpus", corpus,
            "--spans", os.path.join(root, ".bench_build", "spans", f"{a.workload}-{a.seed}.jsonl")] +
           knobs)
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        raise SystemExit(f"perfbench: workload exited {proc.returncode} without a result")
    print(lines[-1])


if __name__ == "__main__":
    main()
