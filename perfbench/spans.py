"""In-memory span recorder for the traced benchmark run.

``Tracer.install`` wraps the engine's public functions from the
outside (module attributes and class methods), so a traced run
measures the same code an untraced run executes, plus the wrappers.
Each span is ``[name, layer, start, end, parent index, op id]``; spans
stay in a list until ``dump`` writes them at exit. Spans opened on one
thread nest under that thread's innermost open span and inherit its op
id (the snapshot database, or the query name).

A traced run measures two windows with the same workload: the first
with the wrappers disabled (``enabled = False`` makes each wrapper a
plain call-through), the second with them recording. The difference
of the workload's median latency between the two is the tracing
overhead.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import threading
import time
from pathlib import Path


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[list] = []  # [name, layer, start, end, parent, op]
        self.first_seen: dict[str, float] = {}  # snapshot db -> discovery
        self.write_bytes = 0
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- recording ----------------------------------------------------

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def begin(self, name: str, op: str | None = None) -> int:
        stack = self._stack()
        parent = stack[-1] if stack else -1
        if op is None and parent >= 0:
            op = self.spans[parent][5]
        with self._lock:
            idx = len(self.spans)
            self.spans.append(
                [name, name.split(".")[0], time.perf_counter(), None, parent, op]
            )
        stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx][3] = time.perf_counter()
        self._stack().pop()

    def span(self, name: str, op: str | None = None):
        """Context manager around one benchmark-side call."""
        if not self.enabled:
            return contextlib.nullcontext()
        return _Span(self, name, op)

    def wrap(
        self, owner: object, attr: str, name: str, op_of=None, on_result=None
    ) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``op_of(args)`` names the operation the call belongs to;
        ``on_result(result)`` sees each return value (for counters)."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            idx = tracer.begin(name, op_of(args) if op_of else None)
            try:
                result = fn(*args, **kwargs)
            finally:
                tracer.end(idx)
            if on_result is not None:
                on_result(result)
            return result

        setattr(owner, attr, traced)

    def install(self) -> None:
        """Wrap the public calls of every layer the ETL workloads drive.
        Call before the pipeline is built: ``flight_load_fn`` binds
        ``read_snapshot`` when it is created."""
        from neo4j_blue_green_arrow_etl_spark.plans import catalog
        from neo4j_blue_green_arrow_etl_spark.sinks import graph_sink
        from neo4j_blue_green_arrow_etl_spark.sources import snapshot
        from neo4j_blue_green_arrow_etl_spark.streaming import orchestrator

        def discovered(refs):
            now = time.perf_counter()
            for ref in refs:
                self.first_seen.setdefault(ref.database, now)

        def written(result):
            self.write_bytes += result.bytes

        self.wrap(
            orchestrator, "discover_snapshots", "sources.discover", on_result=discovered
        )
        self.wrap(snapshot, "read_snapshot", "sources.read_snapshot")
        sink = graph_sink.GraphSink
        self.wrap(sink, "create_database", "sinks.create")
        self.wrap(sink, "write_nodes", "sinks.write_nodes", on_result=written)
        self.wrap(sink, "nodes_done", "sinks.barrier")
        self.wrap(sink, "write_edges", "sinks.write_edges", on_result=written)
        self.wrap(sink, "edges_done", "sinks.barrier")
        cat = catalog.DeploymentCatalog
        for attr, name in (
            ("register_deployment", "plans.register"),
            ("set_alias", "plans.set_alias"),
            ("cleanup_old_deployments", "plans.cleanup"),
        ):
            self.wrap(cat, attr, name)
        orch = orchestrator.Orchestrator
        self.wrap(orch, "run_cycle", "streaming.run_cycle")
        self.wrap(orch, "check_health", "streaming.health")
        self.wrap(
            orch,
            "process_task",
            "streaming.process_task",
            op_of=lambda args: args[1].snapshot.database,
        )

    # -- reporting ----------------------------------------------------

    def closed(self) -> list[tuple[int, list]]:
        return [(i, s) for i, s in enumerate(self.spans) if s[3] is not None]

    def durations(self, name: str) -> list[float]:
        return [s[3] - s[2] for _, s in self.closed() if s[0] == name]

    def median_ms(self, name: str) -> float:
        vals = self.durations(name)
        return 1000 * statistics.median(vals) if vals else 0.0

    def count(self, name: str) -> int:
        return sum(1 for _, s in self.closed() if s[0] == name)

    def layer_self_s(self) -> dict[str, float]:
        """Layer -> summed self time: each span's duration minus the
        part of it that its child spans cover."""
        spans = self.closed()
        own = {i: s[3] - s[2] for i, s in spans}
        for _, s in spans:
            if s[4] in own:
                own[s[4]] -= s[3] - s[2]
        out: dict[str, float] = {}
        for i, s in spans:
            out[s[1]] = out.get(s[1], 0.0) + own[i]
        return out

    def dump(self, path: Path, t0: float) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for name, layer, start, end, parent, op in self.spans:
                f.write(
                    json.dumps(
                        {
                            "name": name,
                            "layer": layer,
                            "start_s": round(start - t0, 6),
                            "end_s": None if end is None else round(end - t0, 6),
                            "parent": parent,
                            "op": op,
                        }
                    )
                    + "\n"
                )


class _Span:
    def __init__(self, tracer: Tracer, name: str, op: str | None):
        self.tracer, self.name, self.op = tracer, name, op

    def __enter__(self):
        self.idx = self.tracer.begin(self.name, self.op)
        return self

    def __exit__(self, *exc):
        self.tracer.end(self.idx)
        return False
