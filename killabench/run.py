#!/usr/bin/env python3
"""killabench — end-to-end and per-layer benchmark of the killa engine.

Run from the root of a checkout:

    python3 killabench/run.py --workload serve-hot --seed 1 --seconds 20 --trace 0
    python3 killabench/run.py --workload maintain --seed 1 --seconds 20 --trace 1
    python3 killabench/run.py --self-test

The first run compiles the engine and the bench (killabench/build.py). Each
run starts one local[nproc] Spark JVM, builds its index in set-up, measures
for --seconds, checks every answer it measured, prints the stamp, every
metric with its unit (per-layer table with --trace 1) and, as the last line,
one JSON object: {"correct", "attempted", "failed", "metrics"}. The exit code
is 0 only when every check passed. See killabench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build as bench_build  # noqa: E402

WORKLOADS = ["serve-hot", "maintain"]
RUN_TIMEOUT_S = 170


def git_stamp():
    root = bench_build.ROOT
    if not os.path.isdir(os.path.join(root, ".git")):
        return {"commit": None, "dirty": None}

    def git(*args):
        return subprocess.run(["git", "-C", root, *args], stdout=subprocess.PIPE,
                              stderr=subprocess.DEVNULL, text=True).stdout.strip()
    return {"commit": git("rev-parse", "HEAD") or None,
            "dirty": bool(git("status", "--porcelain", "--untracked-files=no"))}


def run_jvm(cmd, log_path, timeout):
    """Run one JVM to completion (killing its process group on timeout)."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=bench_build.ROOT, start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def report(r, stamp):
    for k, v in stamp.items():
        print(f"stamp {k}: {json.dumps(v, sort_keys=False)}")
    for row in r.get("layers", []):
        print(f"layer {row['metric']:<38} {fmt(row['value']):>14} {row['unit']:<8} "
              f"moves {row['moves']}")
    for k, m in r["metrics"].items():
        print(f"metric {k:<32} {fmt(m['value']):>14} {m['unit']}")
    ratio = r["failed"] / r["attempted"] if r["attempted"] else 1.0
    print(f"failed_op_ratio {ratio:.6g} ({r['failed']} of {r['attempted']} attempted)")
    for f in r.get("failures", []):
        print(f"FAILED {f}")


def main():
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=int)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--self-test", action="store_true",
                   help="run the bench's own helper tests and exit")
    a = p.parse_args()
    if not a.self_test and (a.workload is None or a.seed is None or a.seconds is None):
        p.error("--workload, --seed and --seconds are required")
    try:
        cp, archive = bench_build.build()
    except bench_build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    out_dir = os.path.join(bench_build.OUT, "results")
    os.makedirs(out_dir, exist_ok=True)
    tag = "self-test" if a.self_test else f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(bench_build.OUT, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log = os.path.join(out_dir, f"{tag}.log")
    result = os.path.join(out_dir, f"{tag}.json")
    if os.path.exists(result):
        os.remove(result)
    try:
        if a.self_test:
            rc = run_jvm(bench_build.java_cmd(cp, "killabench.SelfTest", ["--work", work],
                                              ("use", archive)), log, RUN_TIMEOUT_S)
            print(tail(log, 200), end="")
            return 0 if rc == 0 else 1
        rc = run_jvm(bench_build.java_cmd(
            cp, "killabench.Main",
            ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--work", work, "--result", result],
            ("use", archive)), log, RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(result):
        why = "timed out" if rc is None else f"exited with {rc}"
        print(f"benchmark JVM {why}; log {log}:\n{tail(log)}", file=sys.stderr)
        return 3
    with open(result) as f:
        r = json.load(f)
    stamp = {**git_stamp(), "engine_build": os.path.basename(cp.split(os.pathsep)[1]),
             "bench_build": os.path.basename(cp.split(os.pathsep)[0]), "java_opts":
             [o for o in bench_build.java_cmd("", "", [], ("use", archive))[1:-3]
              if not o.startswith("--add-opens")], **r["stamp"]}
    report(r, stamp)
    print(json.dumps({k: r[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0 if r["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
