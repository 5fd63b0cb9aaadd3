"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                             [--size full|tiny]

Run from the root of a checkout. Builds every input from ``--seed``
under ``.perfbench_work/`` (removed at exit), starts the engine on
``local[<cpus>]``, sets it up several times, warms it up, measures for
``--seconds`` seconds, checks the outputs and prints one JSON line
last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` measures
two windows of ``--seconds`` each, the first with the span wrappers
disabled and the second with them recording; it prints the per-layer
metrics of the second and the tracing overhead between the two, and
writes the spans to ``.perfbench_out/``. ``--size tiny`` shrinks every
input for the smoke test. Exits 1 when a correctness check fails, 2
when the engine cannot be imported (without a result line).
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

from proc import cpu_ticks, steal_pct, tree_cpu_s, tree_rss_mb  # noqa: E402

# workload -> (module, class)
WORKLOADS = {
    "snapshot_churn": ("etl", "SnapshotChurn"),
    "query_mix": ("mix", "QueryMix"),
}
SETUP_REPS = 3
DRIVER_MEM = "2g"

END_TO_END = (
    ("setup_s", "s"),
    ("heap_live_mb", "MB"),
    ("cpu_ms_per_op", "ms"),
)

LAYERS = ("sources", "sinks", "plans", "streaming", "operators")
MIX_MODULES = (
    "curation",
    "dedup",
    "graph",
    "multimodal",
    "pandas_surface",
    "pipeline",
    "relational",
    "similarity",
    "sketches",
    "subqueries",
    "temporal",
    "textops",
    "tpch",
)
PER_LAYER = (
    ("sources.discover_ms", "ms"),
    ("sources.discover_calls", "count"),
    ("sources.read_snapshot_ms", "ms"),
    ("sinks.create_ms", "ms"),
    ("sinks.write_nodes_ms", "ms"),
    ("sinks.write_edges_ms", "ms"),
    ("sinks.barrier_ms", "ms"),
    ("sinks.rows_per_s", "1/s"),
    ("sinks.bytes", "bytes"),
    ("sinks.put_streams", "count"),
    ("sinks.max_concurrent_puts", "count"),
    ("plans.register_ms", "ms"),
    ("plans.set_alias_ms", "ms"),
    ("plans.cleanup_ms", "ms"),
    ("plans.manifest_bytes", "bytes"),
    ("plans.alias_pair_ms", "ms"),
    ("plans.alias_degree_ms", "ms"),
    ("plans.alias_twohop_ms", "ms"),
    ("plans.torn_pairs", "count"),
    ("streaming.health_ms", "ms"),
    ("streaming.queue_wait_ms", "ms"),
    ("streaming.process_task_ms", "ms"),
    ("streaming.health_deferred", "count"),
    ("gen.publish_lag_ms", "ms"),
    *((f"operators.{m}_ms", "ms") for m in MIX_MODULES),
    *((f"{layer}.self_ms", "ms") for layer in LAYERS),
    ("proc.peak_rss_mb", "MB"),
    ("proc.steal_pct", "%"),
    ("wall.setup_s", "s"),
    ("wall.op_p50_ms", "ms"),
    ("wall.op_p90_ms", "ms"),
    ("wall.op_mean_ms", "ms"),
    ("trace.spans", "count"),
    ("trace.overhead_pct", "%"),
)


def percentile(values: list[float], q: int) -> float:
    """Inclusive-method percentile; one sample is its own percentile."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class Bench:
    """Process-wide state of one run: work dir, Spark, checks, tracer."""

    def __init__(self, workload: str, seed: int, size: str, trace: bool):
        self.workload, self.seed, self.size = workload, seed, size
        self.work = ROOT / ".perfbench_work" / f"{workload}-{os.getpid()}"
        shutil.rmtree(self.work, ignore_errors=True)
        (self.work / "tmp").mkdir(parents=True)
        # every scratch file of the engine stays inside the checkout
        os.environ["TMPDIR"] = str(self.work / "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "spark-local")
        os.environ["SPARK_GRAFT_ARTIFACTS"] = str(self.work / "artifacts")
        os.environ["PYSPARK_PYTHON"] = sys.executable
        # every JVM, the spark-submit launcher too: no /tmp/hsperfdata
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-XX:-UsePerfData -Djava.io.tmpdir={self.work / 'tmp'}"
        )
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = None
        self.tracer = None
        if trace:
            from spans import Tracer

            self.tracer = Tracer()
        self.attempted = self.failed = self.checks = self.torn = 0
        self.problems: list[str] = []
        self.peak_rss_mb = 0.0
        self._last_rss = 0.0
        self._lock = threading.Lock()

    # -- engine session ----------------------------------------------

    def start_spark(self):
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        from neo4j_blue_green_arrow_etl_spark.session import get_spark

        self.spark = get_spark(
            f"perfbench-{self.workload}",
            master=f"local[{self.cpus}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": str(self.work / "warehouse-dir"),
                "spark.local.dir": str(self.work / "spark-local"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_spark(self) -> None:
        """Stop the session; the JVM stays up for the next one."""
        self.spark.stop()
        self.spark = None

    def close(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.terminate()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            self.work.parent.rmdir()
        except OSError:
            pass

    # -- checks and measurement ----------------------------------------

    def check(self, ok: bool, problem: str) -> None:
        """A correctness check; a failing one counts as a failed op."""
        with self._lock:
            self.checks += 1
            if not ok:
                self.failed += 1
                self.problems.append(problem)

    def attempt(self, ok: bool, problem: str) -> None:
        """One operation of the workload and the check of its output."""
        with self._lock:
            self.attempted += 1
        self.check(ok, problem)

    def span(self, name: str, op: str | None = None):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, op)

    def heap_live_mb(self) -> float:
        """Engine heap still in use after a full collection: what the
        run left resident (views, plans, caches)."""
        jvm = self.spark.sparkContext._jvm
        rt = jvm.java.lang.Runtime.getRuntime()
        for _ in range(2):
            jvm.java.lang.System.gc()
        return (rt.totalMemory() - rt.freeMemory()) / 2**20

    def sample_rss(self, every_s: float = 0.25) -> None:
        now = time.perf_counter()
        with self._lock:
            if now - self._last_rss < every_s:
                return
            self._last_rss = now
        rss = tree_rss_mb(os.getpid())
        with self._lock:
            self.peak_rss_mb = max(self.peak_rss_mb, rss)


def wall_latency(win) -> dict[str, float]:
    lat = win.latencies_s
    return {
        "wall.op_p50_ms": 1000 * statistics.median(lat),
        "wall.op_p90_ms": 1000 * percentile(lat, 90),
        "wall.op_mean_ms": 1000 * statistics.fmean(lat),
    }


def per_layer(bench: Bench, wl, base, win) -> dict[str, float]:
    tracer = bench.tracer
    values = {name: 0.0 for name, _ in PER_LAYER}
    values.update(wl.layer_metrics(tracer, win))
    ops = max(len(win.latencies_s), 1)
    for layer, s in tracer.layer_self_s().items():
        if layer in LAYERS:
            values[f"{layer}.self_ms"] = 1000 * s / ops
    values.update(wall_latency(win))
    values["plans.torn_pairs"] = bench.torn
    values["proc.peak_rss_mb"] = bench.peak_rss_mb
    values["trace.spans"] = len(tracer.spans)
    untraced = statistics.median(base.latencies_s)
    traced = statistics.median(win.latencies_s)
    values["trace.overhead_pct"] = 100 * (traced - untraced) / untraced
    return values


def run(args, bench: Bench):
    module, cls = WORKLOADS[args.workload]
    wl = getattr(importlib.import_module(module), cls)(bench)
    try:
        if bench.tracer is not None and module == "etl":
            bench.tracer.install()  # before any pipeline binds the engine calls
        pid = os.getpid()
        t0, c0 = time.perf_counter(), tree_cpu_s(pid)
        inputs = wl.generate()
        gen_s, gen_cpu = time.perf_counter() - t0, tree_cpu_s(pid) - c0
        reps, rep_cpu = [], []
        for k in range(SETUP_REPS):
            t0, c0 = time.perf_counter(), tree_cpu_s(pid)
            wl.set_up(k)
            reps.append(time.perf_counter() - t0)
            rep_cpu.append(tree_cpu_s(pid) - c0)
            bench.sample_rss(every_s=0.0)
            if k < SETUP_REPS - 1:
                wl.tear_down()
        t0, c0 = time.perf_counter(), tree_cpu_s(pid)
        wl.warm_up()
        warm_s, warm_cpu = time.perf_counter() - t0, tree_cpu_s(pid) - c0
        setup_s = gen_s + statistics.median(reps) + warm_s
        setup_cpu = gen_cpu + statistics.median(rep_cpu) + warm_cpu
        print(
            f"perfbench: inputs {json.dumps(inputs)} cpus={bench.cpus} "
            f"gen_s={gen_s:.2f} setup_reps_s={[round(r, 2) for r in reps]} "
            f"warm_s={warm_s:.2f} setup_wall_s={setup_s:.2f} setup_cpu_s={setup_cpu:.2f}",
            file=sys.stderr,
        )
        if bench.tracer is None:
            ticks, c0 = cpu_ticks(), tree_cpu_s(pid)
            win = wl.measure(args.seconds)
            cpu_s = tree_cpu_s(pid) - c0
            steal = steal_pct(ticks, cpu_ticks())
            values = {
                "setup_s": setup_cpu,
                "heap_live_mb": bench.heap_live_mb(),
                "cpu_ms_per_op": 1000 * win.cpu_s_per_op(cpu_s),
            }
            units = dict(END_TO_END)
        else:
            base = wl.measure(args.seconds)
            bench.tracer.enabled = True
            ticks = cpu_ticks()
            win = wl.measure(args.seconds)
            steal = steal_pct(ticks, cpu_ticks())
            bench.tracer.enabled = False
            values = per_layer(bench, wl, base, win)
            values["proc.steal_pct"] = steal
            values["wall.setup_s"] = setup_s
            units = dict(PER_LAYER)
            stamp = f"{args.workload}-seed{args.seed}"
            bench.tracer.dump(ROOT / ".perfbench_out" / f"trace-{stamp}.jsonl", T_PROCESS)
        print(
            f"perfbench: op latencies ms {[round(1000 * x) for x in win.latencies_s]} "
            f"{json.dumps(wall_latency(win))} steal_pct={steal:.1f} "
            f"torn_pairs={bench.torn}",
            file=sys.stderr,
        )
        wl.finish()
    finally:
        wl.close()
    return values, units


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    try:
        import neo4j_blue_green_arrow_etl_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    bench = Bench(args.workload, args.seed, args.size, bool(args.trace))
    try:
        values, units = run(args, bench)
    finally:
        bench.close()
    for p in bench.problems[:20]:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    print(f"perfbench: checks={bench.checks}", file=sys.stderr)
    correct = bench.failed == 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": {
                    n: {"value": v, "unit": units[n]} for n, v in values.items()
                },
            }
        ),
        flush=True,
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
