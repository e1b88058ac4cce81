"""One workload run of the repo benchmark, in a process of its own.

``perfbench/run.py`` starts this file with the checkout root as the
working directory and on ``PYTHONPATH``, and with ``TMPDIR`` and
``SPARK_LOCAL_DIRS`` inside a scratch root it owns and removes. The
run generates the workload's inputs from the seed, starts a session on
``local[nproc]`` and warms up with one pass. Then, off the clock and
outside set-up, it checks every query's output against DuckDB, runs
timed passes for the given number of seconds, and writes its result as
JSON to ``--out``.

A pass runs every query of the workload once, one after another. Each
query is: reset (``release_checkpoints()`` then
``reset_materialized()``), build (``fn(spark, dir)``), and the final
action (a ``noop`` write). A pass ends with one more reset, so the
checkpoints a pass takes are released, and counted, inside it.

With ``--trace 1`` untraced and traced passes alternate. A traced pass
records spans, runs each step under its own Spark job group, plans the
query once more to read Catalyst's phase times and count exchanges,
and afterwards reads Spark's status stores for the pass's jobs.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

from proc import cpu_since, host_ticks, jit_threads, jvm_pid, reset_peak, tree_cpu, vm_hwm_kb
from spans import StoreReader, Tracer, self_times, stage_totals


@dataclass(frozen=True)
class Workload:
    sf: float
    queries: tuple[str, ...]


#: Why each workload is here is in README.md. Each list is a cut of
#: its family small enough that a whole run (25-40 s of set-up, the
#: timed passes, the parity pass) stays near a minute on four cores.
WORKLOADS: dict[str, Workload] = {
    # Cubert's core operators over the star schema: execution and
    # shuffle dominate, no checkpoints, no Python workers.
    "olap_star": Workload(0.05, (
        "q1_groupby_agg", "cube_count_distinct", "cube_median", "join_inner", "topn",
    )),
    # Dedup and the writer path: query construction dominates (fuzzy
    # matching and connected components fire jobs and checkpoint while
    # the query is built), plus the Arrow mapInPandas boundary and
    # parquet merge writes through the catalog.
    "dedup_curation": Workload(0.01, (
        "golden_record", "bpe_apply_exact", "merge_roundtrip",
    )),
}

#: Driver heap, minimum and maximum alike: a heap that starts at full
#: size makes the peak RSS depend on the work, not on when G1 chose to
#: grow the heap.
DRIVER_HEAP = "1g"

END_TO_END = {
    "pass_s": "s", "query_s_p50": "s", "cpu_s": "s", "peak_rss_mb": "MB", "setup_s": "s",
}

PER_LAYER = {
    "queries.build_s": "s", "queries.build_jobs": "count", "queries.build_exec_s": "s",
    "queries.build_input_bytes": "bytes",
    "checkpoints.taken": "count", "checkpoints.release_s": "s",
    "checkpoints.warn_lines": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s", "plans.exchanges": "count",
    "exec.action_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.stage_wait_s": "s", "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes", "exec.spill_bytes": "bytes",
    "exec.input_bytes": "bytes", "exec.task_skew": "ratio",
    "exec.failed_tasks": "count",
    "arrow.rows_to_python": "count", "arrow.bytes_to_python": "bytes",
    "arrow.bytes_from_python": "bytes", "arrow.worker_cpu_s": "s",
    "catalog.output_bytes": "bytes", "catalog.write_amp": "ratio",
    "jvm.jit_cpu_s": "s",
    "setup.datagen_s": "s", "setup.session_s": "s",
    "setup.warm_pass_s": "s",
    "trace.pass_s": "s", "trace.overhead_s": "s",
}

#: stderr lines counted per traced pass, by kind; the second has no
#: metric, since neither workload registers a data source
WARN_KINDS = {
    "checkpoints.warn_lines": "was locally checkpointed, its lineage has been truncated",
    "sources.reregistrations": "replaced a previously registered data source",
}

def count_warns(path: str, start: int, end: int) -> dict[str, int]:
    """WARN_KINDS lines in bytes start..end of the stderr log."""
    with open(path, "rb") as f:
        f.seek(start)
        text = f.read(end - start).decode("utf-8", "replace")
    return {k: text.count(pattern) for k, pattern in WARN_KINDS.items()}


class Run:
    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.sf = self.wl.sf
        self.data_dir = os.path.join(args.work, "data")
        self.pid = os.getpid()
        self.tracer = Tracer()
        self.traced = False
        self.failures: list[str] = []
        self.attempted = 0

    # -- steps --------------------------------------------------------

    @contextlib.contextmanager
    def _step(self, name: str, pass_id: str, group: str | None = None, **attrs):
        """A span and a job group around one step, in traced passes
        only; untraced passes pay a generator frame and nothing else."""
        if not self.traced:
            yield
            return
        sc = self.spark.sparkContext
        if group is not None:
            sc.setJobGroup(group, group)
        span = self.tracer.open(name, pass_id, **attrs)
        try:
            yield
        finally:
            self.tracer.close(span)
            if group is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def _reset(self, rec: dict, pass_id: str) -> None:
        from cubert_spark.checkpoints import release_checkpoints
        from cubert_spark.queries.extensions import reset_materialized

        with self._step("reset", pass_id):
            t0 = time.perf_counter()
            rec["checkpoints"] += release_checkpoints()
            reset_materialized()
            rec["release_s"] += time.perf_counter() - t0

    def _plan(self, df, rec: dict) -> None:
        """Plan the built query (traced passes only): exchanges in the
        physical plan and Catalyst's phase times."""
        from cubert_spark.plans.assertions import shuffle_count

        rec["exchanges"] += shuffle_count(df)
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = self._jvm.scala.jdk.javaapi.CollectionConverters.asJava(qe.tracker().phases())
        for phase in ("analysis", "optimization", "planning"):
            if phases.containsKey(phase):
                rec[phase + "_s"] += phases.get(phase).durationMs() / 1e3

    def run_pass(self, pass_id: str) -> dict:
        rec = {
            "pass_id": pass_id, "traced": self.traced, "queries": {},
            "checkpoints": 0, "release_s": 0.0, "build_s": 0.0, "action_s": 0.0,
            "exchanges": 0, "analysis_s": 0.0, "optimization_s": 0.0, "planning_s": 0.0,
        }
        log_start = self._log_offset()
        t0 = time.perf_counter()
        with self._step("pass", pass_id):
            for name in self.wl.queries:
                fn = self.queries[name]
                q0 = time.perf_counter()
                with self._step("query", pass_id, query=name):
                    self._reset(rec, pass_id)
                    self.attempted += 1
                    try:
                        with self._step("build", pass_id, f"{pass_id}/{name}/build"):
                            b0 = time.perf_counter()
                            df = fn(self.spark, self.data_dir)
                            rec["build_s"] += time.perf_counter() - b0
                        if self.traced:
                            with self._step("plan", pass_id, f"{pass_id}/{name}/plan"):
                                self._plan(df, rec)
                        with self._step("action", pass_id, f"{pass_id}/{name}/action"):
                            a0 = time.perf_counter()
                            df.write.format("noop").mode("overwrite").save()
                            rec["action_s"] += time.perf_counter() - a0
                    except Exception:  # noqa: BLE001 - counted, run goes on
                        traceback.print_exc()
                        self.failures.append(f"{pass_id}/{name}: raised")
                rec["queries"][name] = time.perf_counter() - q0
            self._reset(rec, pass_id)
        rec["pass_s"] = time.perf_counter() - t0
        rec["log"] = (log_start, self._log_offset())
        return rec

    def _log_offset(self) -> int:
        sys.stdout.flush()
        sys.stderr.flush()
        return os.fstat(sys.stderr.fileno()).st_size

    # -- phases -------------------------------------------------------

    def setup(self) -> dict:
        from tools.gen_testdata import generate

        from cubert_spark import get_session
        from cubert_spark.queries import all_queries, folded_queries

        out = {}
        t0 = time.perf_counter()
        generate(self.sf, self.data_dir, self.args.seed)
        out["datagen_s"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        work = self.args.work
        self.spark = get_session(
            f"perfbench-{self.args.workload}",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.driver.extraJavaOptions": (
                    f"-Xms{DRIVER_HEAP} "
                    f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
                    f"-Dderby.system.home={os.path.join(work, 'derby')}"
                ),
            },
        )
        self._jvm = self.spark.sparkContext._jvm
        out["session_s"] = time.perf_counter() - t0

        everything = {**all_queries(), **folded_queries()}
        self.queries = {n: everything[n] for n in self.wl.queries}

        # a plain pass, as the timed ones: it pays the first jobs, codegen
        # and the first round of JIT compilation
        out["warm_pass_s"] = self.run_pass("warm")["pass_s"]
        return out

    def parity_pass(self) -> list[dict]:
        """The correctness check, between set-up and the measured passes
        and off the clock: each query's output is collected and compared
        with DuckDB on this run's data. A raise, a mismatch or an empty
        (0 = 0) result fails."""
        from cubert_spark.oracle import compare, duck_connect
        from cubert_spark.queries import all_oracles, folded_oracles

        oracles = {**all_oracles(), **folded_oracles()}
        con = duck_connect(self.data_dir)
        rec = {"checkpoints": 0, "release_s": 0.0}
        out = []
        try:
            for name in self.wl.queries:
                self._reset(rec, "parity")
                self.attempted += 1
                try:
                    r = compare(name, self.queries[name](self.spark, self.data_dir),
                                oracles[name], con)
                    ok = r.match and not r.vacuous
                    detail = "empty result" if r.vacuous else r.detail
                    rows = r.rows_spark
                except Exception as e:  # noqa: BLE001 - counted as a failure
                    traceback.print_exc()
                    ok, detail, rows = False, f"raised {type(e).__name__}", 0
                if not ok:
                    self.failures.append(f"parity/{name}: {detail[:200]}")
                out.append({"query": name, "ok": ok, "rows": rows})
            self._reset(rec, "parity")
        finally:
            con.close()
        return out

    def layer_totals(self, rec: dict, reader: StoreReader, first_exec: int,
                     worker_cpu_s: float, jit_cpu_s: float) -> dict:
        """Per-layer totals of one traced pass, from the status stores."""
        prefix = rec["pass_id"] + "/"
        owner: dict[int, str] = {}  # stage id -> step of the first job that listed it
        job_step: dict[int, str] = {}
        for job in sorted(reader.jobs(), key=lambda j: j["jobId"]):
            group = job.get("jobGroup") or ""
            if not group.startswith(prefix):
                continue
            step = "build" if group.endswith("/build") else "action"
            job_step[job["jobId"]] = step
            for sid in job["stageIds"]:
                owner.setdefault(sid, step)
        jobs = {step: list(job_step.values()).count(step) for step in ("build", "action")}
        stages = [s for s in reader.stages() if s["stageId"] in owner]
        build = stage_totals([s for s in stages if owner[s["stageId"]] == "build"])
        action = stage_totals([s for s in stages if owner[s["stageId"]] == "action"])
        both = stage_totals(stages)
        executions = reader.executions(first_exec, reader.last_execution_id())
        files_read = {"build": 0.0, "action": 0.0}
        for e in executions:
            steps = [job_step[j] for j in sorted(e["jobs"]) if j in job_step]
            if steps:
                files_read[steps[0]] += e["files_read_bytes"]
        arrow = {k: sum(e[k] for e in executions)
                 for k in ("rows_to_python", "bytes_to_python", "bytes_from_python")}
        warns = count_warns(self.args.log, *rec["log"])
        m = {
            "queries.build_s": rec["build_s"],
            "queries.build_jobs": jobs["build"],
            "queries.build_exec_s": build["run_s"],
            "checkpoints.taken": rec["checkpoints"],
            "checkpoints.release_s": rec["release_s"],
            "catalyst.analysis_s": rec["analysis_s"],
            "catalyst.optimization_s": rec["optimization_s"],
            "catalyst.planning_s": rec["planning_s"],
            "plans.exchanges": rec["exchanges"],
            "exec.action_s": rec["action_s"],
            "exec.jobs": jobs["action"],
            "arrow.rows_to_python": arrow["rows_to_python"],
            "arrow.bytes_to_python": arrow["bytes_to_python"],
            "arrow.bytes_from_python": arrow["bytes_from_python"],
            "arrow.worker_cpu_s": worker_cpu_s,
            "jvm.jit_cpu_s": jit_cpu_s,
            "catalog.output_bytes": both["output_bytes"],
            "catalog.write_amp": (
                both["output_bytes"] / sum(files_read.values()) if any(files_read.values())
                else 0.0
            ),
            "exec.input_bytes": files_read["action"],
            "queries.build_input_bytes": files_read["build"],
        }
        for k in ("stages", "tasks", "run_s", "cpu_s", "gc_s", "stage_wait_s",
                  "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                  "task_skew", "failed_tasks"):
            m["exec." + k] = action[k]
        m.update(warns)
        return m

    def timed(self) -> dict:
        passes = []
        t0 = time.perf_counter()
        while not passes or time.perf_counter() - t0 < self.args.seconds:
            cpu0, _ = tree_cpu(self.pid)
            jit0 = jit_threads(self.jvm)
            rec = self.run_pass(f"p{len(passes)}")
            cpu1, _ = tree_cpu(self.pid)
            rec["cpu_s"] = cpu1 - cpu0
            rec["jit_cpu_s"] = cpu_since(jit0, jit_threads(self.jvm))
            passes.append(rec)
        samples = [s for p in passes for s in p["queries"].values()]
        return {
            "passes": passes,
            "metrics": {
                "pass_s": statistics.median(p["pass_s"] for p in passes),
                "query_s_p50": statistics.median(samples),
                "cpu_s": statistics.median(p["cpu_s"] for p in passes),
            },
        }

    def traced_passes(self) -> dict:
        """Untraced and traced passes alternate, at least two of each,
        so drift between them cancels in the overhead figure."""
        reader = StoreReader(self.spark)
        untraced, traced, layers = [], [], []
        t0 = time.perf_counter()
        while len(traced) < 2 or time.perf_counter() - t0 < self.args.seconds:
            self.traced = False
            untraced.append(self.run_pass(f"u{len(untraced)}"))
            self.traced = True
            first_exec = reader.last_execution_id() + 1
            _, w0 = tree_cpu(self.pid)
            j0 = jit_threads(self.jvm)
            rec = self.run_pass(f"t{len(traced)}")
            _, w1 = tree_cpu(self.pid)
            j1 = jit_threads(self.jvm)
            self.traced = False
            r0 = time.perf_counter()
            layers.append(self.layer_totals(rec, reader, first_exec, w1 - w0, cpu_since(j0, j1)))
            rec["read_s"] = time.perf_counter() - r0
            traced.append(rec)
        traced_s = statistics.median(p["pass_s"] for p in traced)
        metrics = {k: statistics.median(layer[k] for layer in layers) for k in layers[0]}
        metrics["trace.pass_s"] = traced_s
        metrics["trace.overhead_s"] = traced_s - statistics.median(p["pass_s"] for p in untraced)
        return {"passes": untraced + traced, "layers": layers, "metrics": metrics}

    def execute(self) -> dict:
        import pyspark

        setup = self.setup()
        setup_s = time.perf_counter() - self.args.started
        # the correctness check runs every query once more, off the
        # clock and outside setup_s; it also carries the JIT further
        # before the first measured pass
        t0 = time.perf_counter()
        self.parity = self.parity_pass()
        parity_s = time.perf_counter() - t0
        self.jvm = jvm = jvm_pid(self.pid)
        for pid in (self.pid, jvm):
            reset_peak(pid)
        steal0, total0 = host_ticks()
        measured = self.traced_passes() if self.args.trace else self.timed()
        steal1, total1 = host_ticks()
        peak_kb = vm_hwm_kb(jvm) + vm_hwm_kb(self.pid)
        conf = self.spark.sparkContext.getConf()
        host = {
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "spark.master": conf.get("spark.master"),
            "spark.sql.shuffle.partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "spark.driver.memory": conf.get("spark.driver.memory"),
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "workload": self.args.workload,
            "seed": self.args.seed,
            "sf": self.sf,
            "steal_pct_measured": 100 * (steal1 - steal0) / max(total1 - total0, 1),
        }
        self.stop()

        if self.args.trace:
            metrics = dict(measured["metrics"])
            metrics.update({f"setup.{k}": v for k, v in setup.items()})
            units = PER_LAYER
        else:
            metrics = dict(measured["metrics"], peak_rss_mb=peak_kb / 1024, setup_s=setup_s)
            units = END_TO_END
        spans = self.tracer.dump()
        return {
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            "host": host,
            "detail": {
                "setup": setup,
                "setup_s": setup_s,
                "parity_s": parity_s,
                "passes": measured["passes"],
                "layers_per_pass": measured.get("layers"),
                "parity": self.parity,
                "failures": self.failures,
                "self_s": self_times(spans),
            },
            "spans": spans,
        }

    def stop(self) -> None:
        """Stop Spark and wait until the JVM, and with it the pyspark
        workers it started, has exited."""
        gateway = self.spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True, help="scratch root owned by run.py")
    ap.add_argument("--log", required=True, help="file this process's stderr goes to")
    ap.add_argument("--out", required=True, help="where to write the result JSON")
    ap.add_argument("--started", type=float, required=True,
                    help="time.perf_counter() when run.py started this process")
    args = ap.parse_args(argv)
    result = Run(args).execute()
    with open(args.out, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
