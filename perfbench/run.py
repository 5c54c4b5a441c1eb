#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the harness from source (see build.py), runs the workload in
one Spark ``local[cores]`` JVM, checks its outputs and prints, as the last
line of standard output, ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (and the span file is written). The line before it holds
the run's metadata. The full record is also kept under
``<build dir>/results/`` for compare.py. Exits non-zero, without a result,
when the build or a run fails, and 1 when an output check fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["snapshot_export", "cdc_replay", "link_graph"]
RUN_LIMIT_S = 170

def git_meta():
    if not os.path.exists(os.path.join(build.ROOT, ".git")):
        return None, None
    try:
        sha = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=20).stdout.strip() or None
        st = subprocess.run(["git", "-C", build.ROOT, "status", "--porcelain", "--untracked-files=no"],
                            capture_output=True, text=True, timeout=20)
        return sha, bool(st.stdout.strip()) if st.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None, None


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    nproc = len(os.sched_getaffinity(0))
    cores = min(4, nproc)
    try:
        classpath, archive, stamp = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    t_built = time.time()

    out = build.out_dir()
    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    work = os.path.join(out, "work", tag)
    logs = os.path.join(out, "logs")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    trace_file = os.path.join(out, "traces", tag + ".json")
    log_file = os.path.join(logs, tag + ".log")

    cmd = build.jvm_args(classpath, archive, os.path.join(work, "tmp")) + [
        "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
        "--cores", str(cores), "--trace-out", trace_file]
    # a run that had to build may take longer overall; the JVM itself always
    # gets the run limit minus what was spent since the build
    budget = max(30.0, RUN_LIMIT_S - (time.time() - t_built))
    result_line = None
    try:
        with open(log_file, "w") as log:
            p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                 start_new_session=True, env=build.jvm_env())
            try:
                stdout, _ = p.communicate(timeout=budget)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                print(f"[perfbench] run exceeded {budget:.0f} s; log: {log_file}", file=sys.stderr)
                return 3
        for line in stdout.splitlines():
            if line.startswith("PERFBENCH_RESULT "):
                result_line = line[len("PERFBENCH_RESULT "):]
        if p.returncode != 0 or result_line is None:
            with open(log_file) as fh:
                sys.stderr.write(fh.read()[-3000:])
            print(f"[perfbench] run failed (exit {p.returncode}); log: {log_file}", file=sys.stderr)
            return 4
    finally:
        shutil.rmtree(work, ignore_errors=True)

    res = json.loads(result_line)
    meta = res.pop("meta")
    sha, dirty = git_meta()
    meta.update({"git_sha": sha, "git_dirty": dirty, "source_sha256": stamp,
                 "nproc": nproc, "wall_s": round(time.time() - t_start, 3)})
    os.makedirs(os.path.join(out, "results"), exist_ok=True)
    with open(os.path.join(out, "results", tag + ".json"), "w") as fh:
        json.dump({**res, "meta": meta}, fh, indent=1)
    if meta.get("errors"):
        for e in meta["errors"]:
            print(f"[perfbench] check failed: {e}", file=sys.stderr)
    print(json.dumps({"meta": meta}))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
