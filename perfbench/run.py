#!/usr/bin/env python3
"""The repo benchmark. Run from the root of a checkout:

    python3 perfbench/run.py --workload olap_star --seed 7 --seconds 26 --trace 0

It runs one workload (see README.md) in a child process and prints, as
the last line of standard output, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it summarises the run and the child's stderr.

Everything the run writes stays inside the checkout. The generated
data, Spark's local dirs and the query materializations live under
``.perfbench_work/`` and are removed at exit. The child's stderr log,
the full result (host block, per-pass records, parity) and, for a
traced run, the spans are kept in ``perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workload import DRIVER_HEAP, WARN_KINDS, WORKLOADS  # noqa: E402

#: The run as a whole must end within 180 s; leave room for the host
#: fingerprints and the clean-up after the child.
CHILD_TIMEOUT_S = 165
#: Files of the program the benchmark drives, relative to the checkout.
REQUIRED = ("cubert_spark/__init__.py", "bench.py", "tools/gen_testdata.py")


def child_env(root: str, work: str) -> dict[str, str]:
    """The child's environment: the checkout importable by the driver
    and by the pyspark workers, every scratch path under ``work``, and
    the session sized to the cores this process may use."""
    nproc = str(len(os.sched_getaffinity(0)))
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CPUS": nproc,
        "SPARK_GRAFT_SHUFFLE": nproc,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_HEAP,
    })
    return env


def stop_group(pgid: int) -> None:
    """Kill whatever is left of the child's process group and wait
    until no member remains."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def log_summary(path: str) -> dict[str, int]:
    """Spark WARN lines in the child's stderr, by kind."""
    counts = dict.fromkeys([*WARN_KINDS, "other"], 0)
    with open(path, errors="replace") as f:
        for line in f:
            if " WARN " in line:
                kind = next((k for k, text in WARN_KINDS.items() if text in line), "other")
                counts[kind] += 1
    return counts


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # a SIGTERM unwinds through the finally blocks below, which stop the
    # child's process group and remove the scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    root = os.getcwd()
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(root, p))]
    if missing:
        print(f"perfbench: run from a checkout root; missing {missing}", file=sys.stderr)
        return 2

    sys.path.insert(0, root)
    import bench

    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    fingerprint_start = bench.host_fingerprint()
    work_parent = os.path.join(root, ".perfbench_work")
    os.makedirs(work_parent, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=work_parent)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    out_path = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "workload.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--log", stem + ".log", "--out", out_path,
    ]
    try:
        with open(stem + ".log", "wb") as log:
            started = time.perf_counter()
            child = subprocess.Popen(
                cmd + ["--started", repr(started)], cwd=root, env=child_env(root, work),
                stdin=subprocess.DEVNULL, stdout=log, stderr=log, start_new_session=True,
            )
            try:
                rc = child.wait(timeout=CHILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = None
            finally:
                stop_group(child.pid)
                child.wait()
        if rc != 0 or not os.path.exists(out_path):
            why = "timed out" if rc is None else f"exited with {rc}"
            print(f"perfbench: workload {why}; see {stem}.log", file=sys.stderr)
            return 1
        with open(out_path) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_parent)
        except OSError:  # another run still owns a scratch root there
            pass

    result["host"]["fingerprint_start"] = fingerprint_start
    result["host"]["fingerprint_end"] = bench.host_fingerprint()
    warns = log_summary(stem + ".log")
    spans = result.pop("spans")
    if args.trace:
        with open(stem + "-spans.json", "w") as f:
            json.dump(spans, f)
    with open(stem + ".json", "w") as f:
        json.dump(dict(result, stderr_warn=warns), f, indent=1)

    host = result["host"]
    print(
        f"# {args.workload} seed={args.seed} sf={host['sf']} trace={args.trace} "
        f"nproc={host['nproc']} shuffle={host['spark.sql.shuffle.partitions']} "
        f"passes={len(result['detail']['passes'])} attempted={result['attempted']} "
        f"failed={result['failed']} warn:" + ",".join(f"{k}={v}" for k, v in warns.items())
        + f" -> {stem}.json"
    )
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
