"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload tail_streams --seed 1 --seconds 10 --trace 0

One closed-loop client: this process issues one query at a time to a
``local[4]`` session and waits for its result.  A run sets the session
up ``SETUPS`` times (each on a fresh JVM), then runs passes over the
workload's queries (the first pass is the cold one) until ``--seconds``
have passed and at least ``MIN_WARM`` warm passes are done.  Every
execution ends in a ``toPandas()`` sink whose result is checked against
the DuckDB oracle; a raise or a mismatch counts as a failed execution.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` enables the
event log and the spans of ``tracing.py`` and prints the per-layer
metrics.  Both append a record to ``perfbench/.work/results.jsonl``
(read by ``compare.py``).
"""

from __future__ import annotations

import argparse
import functools
import json
import math
import os
import random
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

CORES = 4
DRIVER_MEM = "2g"
SETUPS = 2
MIN_WARM = 2
#: derived datasets kept on disk (the most recently used)
KEEP_DATASETS = 4

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "query_geomean_s": "s",
    "peak_rss_mb": "MB",
}

OPERATOR_METRICS = [
    f"operators.{m}.{k}"
    for m in ("dedup", "similarity", "text", "ml", "multimodal", "iteration", "sampling", "sketches")
    for k in ("calls", "self_s")
]

#: per-query metrics, summed over the workload's queries
PER_QUERY = [
    "sources.load_table_calls",
    "sources.load_table_s",
    "queries.construct_s",
    "queries.construct_jobs",
    "queries.sink_s",
    "queries.sink_jobs",
    "plans.plan_s",
    "plans.exchanges",
    "plans.codegen_stages",
    *OPERATOR_METRICS,
    "pipeline.run_calls",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.task_run_s",
    "exec.task_cpu_s",
    "exec.gc_s",
    "exec.input_mb",
    "exec.shuffle_read_mb",
    "exec.shuffle_write_mb",
    "exec.spill_mb",
    "exec.python_rows",
    "exec.python_mb",
    "exec.leaked_rdds",
    "streaming.batches",
    "streaming.input_rows",
    "streaming.add_batch_s",
    "streaming.query_planning_s",
    "streaming.offset_commit_s",
    "streaming.state_commit_s",
    "streaming.state_rows_peak",
    "streaming.state_mb_peak",
]

PER_LAYER = [
    "session.get_spark_s",
    "session.worker_spawn_s",
    "sources.fixture_build_s",
    *PER_QUERY,
    "trace.pass_s",
]


def unit_of(metric: str) -> str:
    if metric in END_TO_END:
        return END_TO_END[metric]
    if "_mb" in metric:
        return "MB"
    if metric.endswith("_s"):
        return "s"
    return "count"


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def process_tree_hwm_mb(root_pid: int) -> float:
    """Sum of peak resident set sizes (VmHWM) of ``root_pid``'s
    descendants: the driver JVM and its Python workers."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    total_kb, todo = 0, list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


class Bench:
    def __init__(self, args, workload, run_dir: str) -> None:
        self.args, self.workload = args, workload
        self.tmp = os.path.join(run_dir, "tmp")
        self.fixtures = os.path.join(run_dir, "fixtures")
        self.event_log = os.path.join(run_dir, "events")
        self.spark = None
        self.tracer = None

    # -- session ----------------------------------------------------------
    def conf(self) -> dict[str, str]:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}",
        }
        if self.args.trace:
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = f"file://{self.event_log}"
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        return conf

    def stop(self) -> None:
        """Stop the session and its JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def setup(self) -> dict[str, float]:
        """Fresh JVM and session, Python workers spawned: everything
        before the first query can run.  Stream replay fixtures are built
        by the first execution that needs them (the cold pass)."""
        from mapreducehs_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{CORES}]",
            shuffle_partitions=CORES,
            extra_conf=self.conf(),
        )
        t1 = time.perf_counter()
        self.spark.sparkContext.parallelize(range(CORES), CORES).map(abs).count()
        t2 = time.perf_counter()
        return {"setup_s": t2 - t0, "session.get_spark_s": t1 - t0, "session.worker_spawn_s": t2 - t1}

    # -- one execution -----------------------------------------------------
    def execute(self, name: str, run: int, record: dict, windows: list) -> tuple[float, str | None]:
        from mapreducehs_spark.plans import inspect as plans
        from mapreducehs_spark.queries import QUERIES

        sc = self.spark.sparkContext
        traced = self.tracer is not None
        if traced:
            self.tracer.query, self.tracer.run = name, run
            rdds0 = set(sc._jsc.getPersistentRDDs().keySet())
        error = None
        t0 = time.perf_counter()
        w0 = time.time() * 1000
        try:
            sc.setJobGroup(f"{name}#{run}#construct", name)
            df = QUERIES[name](self.spark, self.sf_dir)
            t1 = time.perf_counter()
            w1 = time.time() * 1000
            if traced:
                plan = plans.formatted_plan(df)
                record["plans.plan_s"] = time.perf_counter() - t1
                record["plans.exchanges"] = plan.count(") Exchange")
                record["plans.codegen_stages"] = len(
                    {ln.split("codegen id : ")[1].split("]")[0] for ln in plan.splitlines() if "codegen id : " in ln}
                )
            sc.setJobGroup(f"{name}#{run}#sink", name)
            t2 = time.perf_counter()
            w2 = time.time() * 1000
            pdf = df.toPandas()
            t3 = time.perf_counter()
            record["queries.construct_s"] = t1 - t0
            record["queries.sink_s"] = t3 - t2
            windows += [(name, run, "construct", w0, w1), (name, run, "sink", w2, time.time() * 1000)]
            wall = t3 - t0
        except Exception as e:  # a failed execution is counted, the run goes on
            wall = time.perf_counter() - t0
            error = f"{type(e).__name__}: {str(e)[:300]}"
            pdf = None
        finally:
            sc.setJobGroup("perfbench", "perfbench")
            if traced:
                record["exec.leaked_rdds"] = len(set(sc._jsc.getPersistentRDDs().keySet()) - rdds0)
                self.tracer.query = self.tracer.run = None
        if pdf is not None:
            from inputs import mismatch

            error = mismatch(pdf, self.expected[name])
        return wall, error

    # -- the run --------------------------------------------------------------
    def prepare(self) -> None:
        """Inputs and expectations; cached across runs, outside every metric."""
        from inputs import derive, expectations
        from workloads import query_names

        self.names = query_names(self.workload)
        data_root = os.path.join(WORK, "data")
        self.sf_dir = derive(
            os.path.join(data_root, f"f{self.workload.factor}_s{self.args.seed}"),
            self.args.seed,
            self.workload.factor,
        )
        os.utime(self.sf_dir)
        kept = sorted(
            (d for d in os.listdir(data_root) if ".tmp." not in d),
            key=lambda d: os.path.getmtime(os.path.join(data_root, d)),
        )
        for old in kept[:-KEEP_DATASETS]:
            shutil.rmtree(os.path.join(data_root, old), ignore_errors=True)
        self.expected = expectations(
            self.sf_dir, self.names, os.path.join(WORK, "expect", f"f{self.workload.factor}")
        )

    def redirect_fixtures(self) -> None:
        """Stream replay fixtures default to fixed /tmp paths; build them
        under this run's directory instead."""
        import inspect

        from mapreducehs_spark.streaming import ops
        from tracing import rebind

        replacements = {}
        for attr, fn in vars(ops).items():
            if inspect.isfunction(fn) and attr.startswith("prepare_"):
                default = inspect.signature(fn).parameters.get("base_dir")
                if default is not None and isinstance(default.default, str):
                    base = os.path.join(self.fixtures, os.path.basename(default.default))
                    replacements[fn] = functools.partial(fn, base_dir=base)
        rebind(replacements)

    def measure(self) -> dict:
        import mapreducehs_spark.queries  # noqa: F401  (registers every query)

        self.prepare()
        if self.args.trace:
            from tracing import Tracer, instrument

            self.tracer = Tracer()
            instrument(self.tracer)
        self.redirect_fixtures()

        setups = []
        for k in range(SETUPS):
            if k:
                self.stop()
            setups.append(self.setup())
            log(f"setup {k}: {setups[-1]['setup_s']:.2f}s")

        rng = random.Random(self.args.seed)
        passes: list[float] = []
        walls: dict[str, list[float]] = {n: [] for n in self.names}
        records: dict[tuple, dict] = {}
        windows: list[tuple] = []
        attempted = failed = 0
        start = time.perf_counter()
        while len(passes) < 1 + MIN_WARM or time.perf_counter() - start < self.args.seconds:
            run = len(passes)
            total = 0.0
            # the cold pass keeps the declared order: whichever query runs
            # first pays the JVM warm-up, so a seeded order would move
            # cold_pass_s between seeds
            order = rng.sample(self.names, len(self.names)) if run else self.names
            for name in order:
                record = records.setdefault((name, run), {})
                wall, error = self.execute(name, run, record, windows)
                attempted += 1
                total += wall
                if run:
                    walls[name].append(wall)
                if error:
                    failed += 1
                    log(f"FAIL {name} pass {run}: {error}")
                log(f"pass {run} {name} {wall:.3f}s")
            passes.append(total)
            log(f"pass {run} total {total:.3f}s")

        result = {"attempted": attempted, "failed": failed}
        if not self.args.trace:
            peak = process_tree_hwm_mb(os.getpid())
            warm = {n: statistics.median(w) for n, w in walls.items()}
            result["metrics"] = {
                "setup_s": statistics.median(s["setup_s"] for s in setups),
                "cold_pass_s": passes[0],
                "pass_s": statistics.median(passes[1:]),
                "query_geomean_s": math.exp(statistics.fmean(math.log(v) for v in warm.values())),
                "peak_rss_mb": peak,
            }
            result["queries"] = warm
            return result

        self.stop()  # flushes and closes the event log
        from tracing import event_log_metrics, span_metrics, workload_metrics

        spans = self.tracer.spans
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        trace_file = f"{self.workload.name}-seed{self.args.seed}-{os.getpid()}.json"
        with open(os.path.join(WORK, "traces", trace_file), "w") as fh:
            json.dump(spans, fh)
        per_run: dict[tuple, dict] = {}
        for source in (records, span_metrics(spans), event_log_metrics(self.event_log, windows)):
            for key, values in source.items():
                per_run.setdefault(key, {}).update(values)
        warm_runs = list(range(1, len(passes)))
        metrics = workload_metrics(per_run, warm_runs, PER_QUERY)
        fixture_s = sum(
            s["end"] - s["start"] for s in spans if s["name"] == "sources.fixture_build" and s["end"] is not None
        )
        metrics.update(
            {
                "session.get_spark_s": statistics.median(s["session.get_spark_s"] for s in setups),
                "session.worker_spawn_s": statistics.median(s["session.worker_spawn_s"] for s in setups),
                "sources.fixture_build_s": fixture_s,
                "trace.pass_s": statistics.median(passes[1:]),
            }
        )
        result["metrics"] = {k: metrics[k] for k in PER_LAYER}
        result["queries"] = {
            q: {k: statistics.median(per_run.get((q, r), {}).get(k, 0.0) for r in warm_runs) for k in PER_QUERY}
            for q in self.names
        }
        return result


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    from workloads import WORKLOADS

    workload = WORKLOADS[args.workload]
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    bench = Bench(args, workload, run_dir)
    os.makedirs(bench.tmp)
    os.makedirs(bench.event_log)
    # Python workers inherit the environment of the JVM this process starts
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = bench.tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    tempfile.tempdir = bench.tmp
    sys.path.insert(0, ROOT)
    try:
        result = bench.measure()
    finally:
        bench.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics = result.pop("metrics")
    per_query = result.pop("queries")
    line = {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }
    with open(os.path.join(WORK, "results.jsonl"), "a") as fh:
        fh.write(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                             "result": line, "queries": per_query}) + "\n")
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
