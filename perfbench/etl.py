"""The ``snapshot_churn`` workload: the load -> cutover -> read path.

It drives the engine the way the paper's system runs: snapshot trees
are published into a watched directory by atomic rename, the
``Orchestrator`` discovers them, loads each through ``flight_load_fn``
into an in-process ``InMemoryGraphFlightServer``, registers it in the
``DeploymentCatalog`` and repoints the customer's alias.

The traffic is an open loop: one thread publishes small snapshots for
several customers at a fixed interval (some of them late, some
incomplete trees) and, right after each publish, reads the alias of
customer ``c0`` twice in a closed loop; a second thread runs the
orchestrator, polling at a fixed interval while idle. The operation is
one snapshot, timed from when it was due until it is queryable: under
its alias or, for a late snapshot, under its deployment name.
"""

from __future__ import annotations

import statistics
import threading
import time
from dataclasses import dataclass, field

import numpy as np

import gen

# Fixed traffic. A load of the full CHURN size takes about 1.95 s alone
# on 4 cores (0.49 loads/s), so one publish every 4 s offers about half
# the capacity (see README.md).
CHURN = {
    "full": dict(
        nodes=3_000, edges=7_000, files=2, templates=4, customers=6,
        interval_s=4.0, poll_s=0.1,
    ),
    "tiny": dict(
        nodes=300, edges=700, files=1, templates=3, customers=3,
        interval_s=1.5, poll_s=0.1,
    ),
}
WARM = dict(nodes=3_000, edges=7_000, files_per_table=2)  # set-up warm-up snapshot
KEEP_COUNT = 2
DRAIN_TIMEOUT_S = 30.0
READS = ("pair", "degree", "twohop")


def _ts_of(db: str | None) -> int:
    return -1 if db is None else int(db.rsplit("-", 1)[1])


class Pipeline:
    """Flight server, catalog and orchestrator over one watched dir."""

    def __init__(self, bench, tag: str):
        from neo4j_blue_green_arrow_etl_spark.plans.catalog import DeploymentCatalog
        from neo4j_blue_green_arrow_etl_spark.sinks.flight_server import (
            InMemoryGraphFlightServer,
        )
        from neo4j_blue_green_arrow_etl_spark.sinks.graph_sink import flight_load_fn
        from neo4j_blue_green_arrow_etl_spark.streaming.orchestrator import (
            Orchestrator,
        )

        self.data = bench.work / f"data-{tag}"
        self.data.mkdir(parents=True)
        self.manifest = bench.work / f"manifest-{tag}.json"
        self.server = InMemoryGraphFlightServer()
        self.catalog = DeploymentCatalog(bench.spark, self.manifest)
        self.orch = Orchestrator(
            bench.spark,
            self.data,
            catalog=self.catalog,
            config={"keep_count": KEEP_COUNT},
            status_path=bench.work / f"status-{tag}.json",
            load_fn=flight_load_fn("127.0.0.1", self.server.port),
        )
        self.complete_published = 0

    def publish(self, tpl: gen.Template, customer: str, ts: int) -> str:
        gen.publish(tpl.path, self.data, customer, ts)
        if tpl.complete:
            self.complete_published += 1
        return f"{customer}-{ts}"

    def acked(self, db: str, tpl: gen.Template) -> bool:
        """The server finished the load with exactly the generated counts."""
        g = self.server.graphs.get(db)
        return (
            g is not None
            and g["state"] == "done"
            and g["nodes"] == tpl.nodes
            and g["relationships"] == tpl.edges
        )

    def close(self) -> None:
        self.server.shutdown()


@dataclass
class Window:
    """What one measurement window hands back to the harness."""

    latencies_s: list[float] = field(default_factory=list)
    loads: list[str] = field(default_factory=list)  # dbs loaded in the window
    reads_ms: dict[str, list[float]] = field(default_factory=dict)
    publish_lag_ms: list[float] = field(default_factory=list)

    def cpu_s_per_op(self, window_cpu_s: float) -> float:
        return window_cpu_s / len(self.latencies_s)


@dataclass
class _Event:
    due: float
    customer: str
    ts: int
    tpl: gen.Template
    late: bool = False
    db: str = ""


class SnapshotChurn:
    def __init__(self, bench):
        self.bench = bench
        self.rng = np.random.default_rng(bench.seed)
        self.size = CHURN[bench.size]
        self.pipe: Pipeline | None = None
        self.ts = 100

    def set_up(self, rep: int) -> None:
        """Session and pipeline, up to the first health check."""
        self.bench.start_spark()
        self.pipe = Pipeline(self.bench, f"r{rep}")
        healthy, reason = self.pipe.orch.check_health()
        self.bench.check(healthy, f"health check: {reason}")

    def load_now(self, tpl: gen.Template, customer: str) -> None:
        """Publish one snapshot and run one cycle: a closed-loop load."""
        pipe = self.pipe
        ts = self.next_ts()
        db = pipe.publish(tpl, customer, ts)
        processed = pipe.orch.run_cycle()
        ok = (
            processed == 1
            and pipe.catalog.alias_target(customer) == db
            and pipe.acked(db, tpl)
        )
        self.bench.attempt(ok, f"load {db}")
        self.last_ts[customer] = self.live_ts[customer] = ts
        self.bench.sample_rss()

    def tear_down(self) -> None:
        self.pipe.close()
        self.pipe = None
        self.bench.stop_spark()

    def close(self) -> None:
        if self.pipe is not None:
            self.pipe.close()

    def next_ts(self) -> int:
        self.ts += 10
        return self.ts

    def layer_metrics(self, tracer, win: Window) -> dict[str, float]:
        pipe = self.pipe
        loads = max(len(win.loads), 1)
        per_load = lambda name: 1000 * sum(tracer.durations(name)) / loads  # noqa: E731
        write_s = sum(tracer.durations("sinks.write_nodes")) + sum(
            tracer.durations("sinks.write_edges")
        )
        rows = sum(
            pipe.server.graphs[db]["nodes"] + pipe.server.graphs[db]["relationships"]
            for db in win.loads
            if db in pipe.server.graphs
        )
        puts = [
            pipe.server.graphs[db]["put_calls"]
            for db in win.loads
            if db in pipe.server.graphs
        ]
        starts = {
            s[5]: s[2] for _, s in tracer.closed() if s[0] == "streaming.process_task"
        }
        waits = [
            starts[db] - seen for db, seen in tracer.first_seen.items() if db in starts
        ]
        reads = win.reads_ms
        med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
        return {
            "sources.discover_ms": tracer.median_ms("sources.discover"),
            "sources.discover_calls": tracer.count("sources.discover") / loads,
            "sources.read_snapshot_ms": tracer.median_ms("sources.read_snapshot"),
            "sinks.create_ms": tracer.median_ms("sinks.create"),
            "sinks.write_nodes_ms": tracer.median_ms("sinks.write_nodes"),
            "sinks.write_edges_ms": tracer.median_ms("sinks.write_edges"),
            "sinks.barrier_ms": per_load("sinks.barrier"),
            "sinks.rows_per_s": rows / write_s if write_s else 0.0,
            "sinks.bytes": tracer.write_bytes / loads,
            "sinks.put_streams": med(puts),
            "sinks.max_concurrent_puts": pipe.server.max_concurrent_puts,
            "plans.register_ms": tracer.median_ms("plans.register"),
            "plans.set_alias_ms": tracer.median_ms("plans.set_alias"),
            "plans.cleanup_ms": tracer.median_ms("plans.cleanup"),
            "plans.manifest_bytes": pipe.manifest.stat().st_size,
            "plans.alias_pair_ms": med(reads.get("pair", [])),
            "plans.alias_degree_ms": med(reads.get("degree", [])),
            "plans.alias_twohop_ms": med(reads.get("twohop", [])),
            "streaming.health_ms": tracer.median_ms("streaming.health"),
            "streaming.queue_wait_ms": 1000 * med(waits),
            "streaming.process_task_ms": tracer.median_ms("streaming.process_task"),
            "streaming.health_deferred": pipe.orch.stats.health_deferred,
            "gen.publish_lag_ms": med(win.publish_lag_ms),
        }

    def generate(self) -> dict:
        s = self.size
        self.warm = gen.snapshot_template(
            self.bench.work / "tpl" / "warm", self.rng, expectations=True, **WARM
        )
        self.templates = [
            gen.snapshot_template(
                self.bench.work / "tpl" / f"churn{i}",
                self.rng,
                s["nodes"] + 11 * (i + 1),
                s["edges"] + 13 * (i + 1),
                files_per_table=s["files"],
                expectations=True,
            )
            for i in range(s["templates"])
        ]
        self.incomplete = gen.snapshot_template(
            self.bench.work / "tpl" / "incomplete",
            self.rng,
            s["nodes"],
            s["edges"],
            files_per_table=s["files"],
            complete=False,
        )
        self.customers = [f"c{i}" for i in range(s["customers"])]
        self.published_c0 = {id(self.warm): self.warm}
        self.last_ts: dict[str, int] = {}  # newest complete ts published
        self.live_ts: dict[str, int] = {}  # newest ts seen queryable
        self.incomplete_dbs: list[str] = []
        t = self.templates[0]
        return {
            "churn_rows_per_snapshot": t.nodes + t.edges,
            "churn_files_per_snapshot": t.files,
            "churn_bytes_per_snapshot": t.bytes,
            "churn_customers": s["customers"],
            "churn_interval_s": s["interval_s"],
            "churn_poll_s": s["poll_s"],
        }

    def warm_up(self) -> None:
        """Load ``c0``'s first generation, then read it in every shape:
        a session's first load and reads are its slowest."""
        self.load_now(self.warm, "c0")
        for kind in READS:
            self.read_once(kind, Window())

    def _schedule(self, start: float, n: int) -> list[_Event]:
        """``n`` snapshots at the fixed interval, every fourth of them
        late; an incomplete tree goes out with every fourth, from the
        second on. Every other snapshot on time is ``c0``'s. Every run
        has this mix; the seed picks the other customers and the
        templates."""
        events, newest_at = [], {}
        others = self.customers[1:]
        for k in range(n):
            due = start + k * self.size["interval_s"]
            tpl = self.templates[self.rng.integers(0, len(self.templates))]
            cust = others[self.rng.integers(0, len(others))]
            late_ok = [c for c, at in newest_at.items() if at <= k - 2]
            if k % 4 == 3 and late_ok:
                cust = late_ok[self.rng.integers(0, len(late_ok))]
                events.append(_Event(due, cust, self.last_ts[cust] - 5, tpl, late=True))
                del newest_at[cust]  # one late snapshot per newest one
            else:
                if k % 2 == 0:
                    cust = "c0"
                ts = self.next_ts()
                self.last_ts[cust] = ts
                newest_at[cust] = k
                events.append(_Event(due, cust, ts, tpl))
            if k % 4 == 1:
                events.append(_Event(due, cust, self.next_ts(), self.incomplete))
        return events

    def read_once(self, kind: str, win: Window) -> None:
        """One consumer read through ``c0``'s alias; its answer must be
        that of a generation published for ``c0`` (each side of the pair
        may come from a different one, see ``plans.torn_pairs``)."""
        spark, bench = self.bench.spark, self.bench
        gens = list(self.published_c0.values())
        t0 = time.perf_counter()
        with bench.span(f"plans.alias_{kind}"):
            if kind == "pair":
                r = spark.sql(
                    "SELECT (SELECT count(*) FROM c0_nodes) AS n, "
                    "(SELECT count(*) FROM c0_edges) AS e"
                ).collect()[0]
                # the alias repoint is two view statements, which the
                # catalog documents as not atomic: a mixed pair is
                # counted (plans.torn_pairs), not failed
                ok = True
                if not any((r.n, r.e) == (g.nodes, g.edges) for g in gens):
                    bench.torn += 1
                    ok = any(r.n == g.nodes for g in gens) and any(
                        r.e == g.edges for g in gens
                    )
            elif kind == "degree":
                rows = spark.sql(
                    "SELECT sourceNodeId AS id, count(*) AS d FROM c0_edges "
                    "GROUP BY sourceNodeId ORDER BY d DESC, id LIMIT 10"
                ).collect()
                got = [(int(x.id), int(x.d)) for x in rows]
                ok = any(got == g.top_degree for g in gens)
            else:
                r = spark.sql(
                    "WITH one AS (SELECT DISTINCT targetNodeId AS id FROM c0_edges "
                    "WHERE sourceNodeId = 0), "
                    "two AS (SELECT DISTINCT e.targetNodeId AS id FROM c0_edges e "
                    "JOIN one ON e.sourceNodeId = one.id) "
                    "SELECT count(*) AS c FROM (SELECT id FROM one UNION SELECT id FROM two)"
                ).collect()[0]
                ok = any(r.c == g.twohop for g in gens)
        win.reads_ms.setdefault(kind, []).append(1000 * (time.perf_counter() - t0))
        bench.attempt(ok, f"c0 {kind} read matches no published generation")

    def measure(self, seconds: float) -> Window:
        """Publish on the schedule for ``seconds`` while the orchestrator
        thread loads, then drain. Right after each publish of a complete
        tree the publisher reads ``c0``'s alias twice (a closed loop),
        then waits for the next due time."""
        bench, pipe = self.bench, self.pipe
        win = Window()
        n = int(seconds / self.size["interval_s"]) + 1
        events = self._schedule(time.perf_counter(), n)
        pending: dict[str, _Event] = {}
        lock = threading.Lock()
        stop = threading.Event()
        errors: list[Exception] = []

        def observe(now: float) -> None:
            cat = pipe.catalog
            with lock:
                for db, ev in list(pending.items()):
                    if not cat.database_exists(db):
                        continue
                    alias_ts = _ts_of(cat.alias_target(ev.customer))
                    if not ev.late and alias_ts < ev.ts:
                        continue
                    del pending[db]
                    if ev.late and self.live_ts.get(ev.customer, -1) > ev.ts:
                        # a newer deployment was live: the alias must stay
                        bench.check(
                            alias_ts > ev.ts, f"late snapshot {db} switched the alias"
                        )
                    self.live_ts[ev.customer] = max(
                        self.live_ts.get(ev.customer, -1), ev.ts
                    )
                    bench.attempt(pipe.acked(db, ev.tpl), f"churn load {db}")
                    win.latencies_s.append(now - ev.due)
                    win.loads.append(db)

        def orchestrate() -> None:
            try:
                while not stop.is_set():
                    processed = pipe.orch.run_cycle()
                    observe(time.perf_counter())
                    if not processed:
                        stop.wait(self.size["poll_s"])
            except Exception as e:  # re-raised on the publisher thread
                errors.append(e)

        worker = threading.Thread(target=orchestrate, name="orchestrator")
        worker.start()
        try:
            loads = 0
            for ev in events:
                while (left := ev.due - time.perf_counter()) > 0:
                    time.sleep(min(0.02, left))
                ev.db = f"{ev.customer}-{ev.ts}"
                with lock:
                    if ev.tpl.complete:
                        pending[ev.db] = ev
                        if ev.customer == "c0":
                            self.published_c0[id(ev.tpl)] = ev.tpl
                    else:
                        self.incomplete_dbs.append(ev.db)
                pipe.publish(ev.tpl, ev.customer, ev.ts)
                win.publish_lag_ms.append(1000 * (time.perf_counter() - ev.due))
                if ev.tpl.complete:
                    # the same read traffic beside every load: the pair,
                    # then the top degrees or the 2-hop reach in turn
                    self.read_once("pair", win)
                    self.read_once(READS[1 + loads % 2], win)
                    loads += 1
                bench.sample_rss()
            deadline = time.perf_counter() + DRAIN_TIMEOUT_S
            while pending and not errors and time.perf_counter() < deadline:
                bench.sample_rss()
                time.sleep(0.05)
        finally:
            stop.set()
            worker.join()
        if errors:
            raise errors[0]
        for db in pending:
            bench.attempt(False, f"churn snapshot {db} never became queryable")
        return win

    def finish(self) -> None:
        bench, pipe = self.bench, self.pipe
        cat = pipe.catalog
        for cust, ts in self.last_ts.items():
            bench.check(
                _ts_of(cat.alias_target(cust)) == ts, f"{cust} alias targets max ts"
            )
        for cust in self.customers:
            bench.check(
                len(cat.list_databases(f"{cust}-")) <= KEEP_COUNT, f"{cust} retention"
            )
        for db in self.incomplete_dbs:
            bench.check(
                db not in pipe.server.graphs and not cat.database_exists(db),
                f"incomplete tree {db} was loaded",
            )
        bench.check(
            pipe.orch.stats.discovered == pipe.complete_published,
            "discovery count equals complete snapshots published",
        )
