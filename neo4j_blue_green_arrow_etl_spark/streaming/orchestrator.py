"""Continuous snapshot orchestrator: the reference's file-watching
blue/green loop (orchestrator.py / orchestrator_prefect.py) re-expressed
as a micro-batch driver loop around Spark jobs.

Semantics carried over (SURVEY §2.9 ST1-ST9):
  ST1  scan every ``scan_interval`` seconds (micro-batch trigger); a
       backlog of due tasks loads back to back, without the wait
  ST2  dedup against this process's seen set + catalog existence
       (idempotent; see "Restarts" below)
  ST3  late data: old-timestamp snapshots still LOAD, but the alias only
       switches if the snapshot is the customer's latest (latest-wins by
       event time, not arrival; reference orchestrator.py:322-324, 364-384)
  ST4  completeness gate (every label/type dir under nodes/ and
       relationships/ lists data) — in ``discover_snapshots``
  ST5  concurrency cap: ``max_concurrent_loads`` per scan
  ST6  retry with exponential backoff ``retry_backoff_base ** retries``,
       max ``max_retries``
  ST7  health-gated admission (session alive + db count below limit)
  ST8  graceful drain with ``shutdown_timeout`` (``stop``; the
       ``orchestrate`` CLI calls it on Ctrl-C)
  ST9  JSON status emission per cycle

``write_status`` rewrites ``status.json`` atomically after every cycle
and drain: the ``OrchestratorStats`` counters,
``queue_size``, ``databases``, ``aliases`` (customer -> deployment) and
``tasks``, the last ``_TASK_LOG_LEN`` finished attempts, oldest first,
each ``{db, state, attempt, duration_s, alias_switched, cleaned_up,
error}``. ``state`` is ``completed``, ``retrying`` (load failed,
re-queued with backoff), ``failed`` (retries exhausted), ``deferred``
(health gate closed: ``error`` is its reason, no retry consumed) or
``interrupted`` (Ctrl-C or another ``BaseException`` during the attempt:
``error`` is its type name, the task goes back to the head of the queue
with no retry consumed, and the exception propagates);
``attempt`` counts from 1 and ``duration_s`` is on the orchestrator clock.

The loop is deliberately driver-side: snapshot arrival is control-plane
(a few events/minute); the data plane — read, normalize, sink write —
is distributed Spark jobs, except for a small snapshot, which is read
and streamed to the sink on the driver, as the reference loads from one
host. A Structured Streaming file source would force one schema across
heterogeneous snapshot dirs, so discovery stays a directory scan
feeding batch jobs (the Spark mapping SURVEY §2.1 S4 sanctions). ``run``/``run_cycle``/``stop`` over
``discover_snapshots`` are the one way the pipeline runs.

Restarts: the seen set lives in memory, so a new process skips a
snapshot only because the catalog (rebuilt from its manifest) still
lists it. Every deployed snapshot is therefore skipped, but one that
retention dropped is loaded again if its directory is still on disk —
the reference's existence check behaves the same way
(orchestrator_prefect.py:339-345).
"""

from __future__ import annotations

import json
import os
import tempfile
import time
from collections import deque
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from ..config import DEFAULTS, validate_config
from ..plans.catalog import DeploymentCatalog
from ..sources.snapshot import SnapshotRef, discover_snapshots, read_snapshot

_TASK_LOG_LEN = 50  # attempts kept under "tasks" in status.json


def load_snapshot(
    spark: SparkSession, ref: SnapshotRef, catalog: DeploymentCatalog
) -> tuple[DataFrame, DataFrame]:
    """Read a snapshot and register it as a deployment (no alias move);
    returns its (nodes, edges). The orchestrator's default ``load_fn``
    and the ``load``/``demo`` CLI commands; ``flight_load_fn`` instead
    puts the sink between the read and the register. No job runs here:
    the sides are pinned by their first read, which computes them from
    the landing files once; later reads, and files changing after it,
    do not move what the deployment serves. The catalog unpins them
    when it drops or replaces the deployment."""
    nodes, edges = read_snapshot(spark, ref)
    catalog.register_deployment(
        ref.customer_id, ref.timestamp, nodes, edges, source_path=str(ref.path)
    )
    return nodes, edges


@dataclass
class OrchestratorStats:
    """Running counters (reference orchestrator.py:169-213)."""

    discovered: int = 0
    completed: int = 0
    failed: int = 0
    retried: int = 0
    skipped_existing: int = 0
    health_deferred: int = 0
    alias_switches: int = 0
    cleaned_up: int = 0
    started_at: float = field(default_factory=time.time)

    def as_dict(self) -> dict[str, Any]:
        return {
            "uptime_sec": round(time.time() - self.started_at, 1),
            "discovered": self.discovered,
            "completed": self.completed,
            "failed": self.failed,
            "retried": self.retried,
            "skipped_existing": self.skipped_existing,
            "health_deferred": self.health_deferred,
            "alias_switches": self.alias_switches,
            "cleaned_up": self.cleaned_up,
        }


@dataclass
class _Task:
    snapshot: SnapshotRef
    retry_count: int = 0
    not_before: float = 0.0
    last_error: str | None = None


class Orchestrator:
    """Micro-batch snapshot loader with blue/green cutover."""

    def __init__(
        self,
        spark: SparkSession,
        data_path: str | Path,
        catalog: DeploymentCatalog | None = None,
        config: dict[str, Any] | None = None,
        status_path: str | Path | None = None,
        load_fn: Callable[[SparkSession, SnapshotRef, DeploymentCatalog], object] | None = None,
        clock: Callable[[], float] = time.time,
        heap_fraction_fn: Callable[[], float] | None = None,
    ):
        self.spark = spark
        self.data_path = Path(data_path)
        self.catalog = catalog or DeploymentCatalog(spark)
        cfg = dict(DEFAULTS["orchestrator"])
        cfg.update((config or {}).get("orchestrator", config or {}))
        validate_config({"orchestrator": cfg})
        self.cfg = cfg
        self.status_path = Path(status_path) if status_path else None
        self.load_fn = load_fn or load_snapshot
        self.clock = clock
        self.heap_fraction_fn = heap_fraction_fn or self._jvm_heap_fraction
        self.stats = OrchestratorStats()
        self.task_log: deque[dict[str, Any]] = deque(maxlen=_TASK_LOG_LEN)
        self._queue: list[_Task] = []
        self._seen: set[tuple[str, int]] = set()
        self._stop = False

    # -- health (ST7) --------------------------------------------------

    def check_health(self) -> tuple[bool, str]:
        """Admission gate before each load (reference orchestrator.py:61-163):
        the engine is alive (``DeploymentCatalog.health``, a py4j call
        that runs no Spark job); deployment count below max_databases;
        JVM heap below ``heap_threshold_percent`` — the Spark-side
        equivalent of the reference's ``CALL dbms.queryJmx`` heap gate
        (reference orchestrator.py:111-152). The heap reading comes from
        ``heap_fraction_fn`` (injectable for tests; defaults to the
        driver JVM's Runtime memory counters, which in local mode IS the
        executor heap; on a cluster swap in an executor-metrics
        provider)."""
        try:
            alive = self.catalog.health()
        except Exception as e:  # session or JVM gone
            return False, f"session check failed: {e}"
        if not alive:
            return False, "spark context is stopped"
        n_dbs = len(self.catalog.list_databases())
        if n_dbs >= self.cfg["max_databases"]:
            return False, f"too many databases: {n_dbs} >= {self.cfg['max_databases']}"
        threshold = self.cfg["heap_threshold_percent"] / 100.0
        try:
            frac = self.heap_fraction_fn()
        except Exception as e:  # metrics unavailable -> fail open, noted
            return True, f"ok (heap metrics unavailable: {e})"
        if frac >= threshold:
            return False, f"heap {frac:.0%} >= {threshold:.0%}"
        return True, "ok"

    def _jvm_heap_fraction(self) -> float:
        """Used/max heap of the driver JVM via java.lang.Runtime."""
        rt = self.spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
        return (rt.totalMemory() - rt.freeMemory()) / rt.maxMemory()

    # -- discovery (ST1/ST2/ST4) --------------------------------------

    def scan_once(self) -> int:
        """One discovery pass (reference scan_for_snapshots,
        orchestrator.py:226-273): queue each complete snapshot under
        ``data_path`` not yet seen by this process and not already
        deployed (reference prefect existence check :339-345, which
        makes restarts idempotent); returns how many were queued. A
        seen snapshot's tree is not walked again."""
        found = 0
        for ref in discover_snapshots(self.data_path, self._seen):
            key = (ref.customer_id, ref.timestamp)
            if key in self._seen:
                continue
            self._seen.add(key)
            if self.catalog.database_exists(ref.database):
                self.stats.skipped_existing += 1
                continue
            self._queue.append(_Task(ref))
            self.stats.discovered += 1
            found += 1
        return found

    # -- load pipeline (§3.1) -----------------------------------------

    def _is_latest_deployment(self, ref: SnapshotRef) -> bool:
        """Latest-wins by event time: compare against every deployment of
        this customer (reference _is_latest_deployment,
        orchestrator.py:364-384 — parses the ts suffix off db names)."""
        prefix = f"{ref.customer_id}-"
        latest = max(
            (int(n.split("-")[-1]) for n in self.catalog.list_databases(prefix)),
            default=-1,
        )
        return ref.timestamp >= latest

    def process_task(self, task: _Task) -> bool:
        """Load one snapshot end-to-end: health gate -> load -> maybe
        switch alias -> cleanup. Returns success (reference
        load_snapshot, orchestrator.py:300-362)."""
        ref = task.snapshot
        started, attempt = self.clock(), task.retry_count + 1
        state, switched, cleaned, error = "interrupted", False, 0, None
        try:
            healthy, reason = self.check_health()
            if not healthy:
                # Health pressure is not the task's fault: re-queue with
                # backoff WITHOUT consuming a retry, so a snapshot is never
                # permanently failed by sustained pressure (e.g. databases
                # at max). Retries are reserved for actual load errors
                # (reference re-queues on health failure without counting,
                # orchestrator.py:310-316).
                task.last_error = f"health gate: {reason}"
                task.not_before = self.clock() + self.cfg["retry_backoff_base"]
                self._queue.append(task)
                self.stats.health_deferred += 1
                state, error = "deferred", reason
            else:
                self.load_fn(self.spark, ref, self.catalog)
                if self._is_latest_deployment(ref):
                    self.catalog.set_alias(ref.customer_id, ref.timestamp)
                    self.stats.alias_switches += 1
                    switched = True
                cleaned = len(
                    self.catalog.cleanup_old_deployments(
                        ref.customer_id, self.cfg["keep_count"]
                    )
                )
                self.stats.cleaned_up += cleaned
                self.stats.completed += 1
                state = "completed"
        except Exception as e:
            error = str(e)
            state = self._fail(task, error)
        except BaseException as e:
            # Ctrl-C: pyspark cancels the running jobs and raises
            # KeyboardInterrupt here, after ``_drain`` took the task off
            # the queue. Put it back at the head, with no retry consumed,
            # so ``stop`` loads it; the interrupt still ends the cycle.
            error = type(e).__name__
            self._queue.insert(0, task)
            raise
        finally:
            self.task_log.append({
                "db": ref.database,
                "state": state,
                "attempt": attempt,
                "duration_s": round(self.clock() - started, 3),
                "alias_switched": switched,
                "cleaned_up": cleaned,
                "error": error,
            })
        return state == "completed"

    # -- retry (ST6) ---------------------------------------------------

    def _fail(self, task: _Task, error: str) -> str:
        """Re-queue with backoff while retries remain; returns the
        attempt's state, ``retrying`` or ``failed``."""
        task.last_error = error
        if task.retry_count < self.cfg["max_retries"]:
            task.retry_count += 1
            backoff = self.cfg["retry_backoff_base"] ** task.retry_count
            task.not_before = self.clock() + backoff
            self._queue.append(task)
            self.stats.retried += 1
            return "retrying"
        self.stats.failed += 1
        return "failed"

    # -- status (ST9) --------------------------------------------------

    def write_status(self) -> dict[str, Any]:
        status = {
            **self.stats.as_dict(),
            "queue_size": len(self._queue),
            "databases": self.catalog.list_databases(),
            "aliases": self.catalog.list_aliases(),
            "tasks": list(self.task_log),
        }
        if self.status_path:
            fd, tmp = tempfile.mkstemp(dir=str(self.status_path.parent), prefix=".status-")
            try:
                with os.fdopen(fd, "w") as f:
                    json.dump(status, f, indent=2)
                os.replace(tmp, self.status_path)
            finally:
                if os.path.exists(tmp):
                    os.unlink(tmp)
        return status

    # -- main loop (ST1/ST5/ST8) --------------------------------------

    def run_cycle(self) -> int:
        """One micro-batch: scan, then process up to
        ``max_concurrent_loads`` due tasks. Returns tasks processed."""
        self.scan_once()
        processed = self._drain(self.cfg["max_concurrent_loads"])
        self.write_status()
        return processed

    def _due(self) -> list[_Task]:
        """Queued tasks whose backoff has elapsed, in queue order."""
        now = self.clock()
        return [t for t in self._queue if t.not_before <= now]

    def _drain(self, limit: int) -> int:
        """Process up to ``limit`` due tasks; returns how many ran."""
        due = self._due()[:limit]
        for task in due:
            self._queue.remove(task)
            self.process_task(task)
        return len(due)

    def run(self, max_cycles: int | None = None, sleep: Callable[[float], None] = time.sleep) -> None:
        """Run cycles until ``stop`` or ``max_cycles``. While a due task
        is queued the next cycle starts at once, so snapshots that land
        together load back to back (the reference's load worker takes
        the next task as soon as a load ends, orchestrator.py:426-456).
        ``run`` sleeps ``scan_interval`` when none is due, and after a
        cycle whose task the health gate deferred: under sustained
        pressure a backlog is deferred one task per interval, not spun
        through back to back."""
        cycles = 0
        while not self._stop:
            deferred = self.stats.health_deferred
            self.run_cycle()
            cycles += 1
            if max_cycles is not None and cycles >= max_cycles:
                break
            if self.stats.health_deferred > deferred or not self._due():
                sleep(self.cfg["scan_interval"])

    def stop(
        self, drain: bool = True, sleep: Callable[[float], None] = time.sleep
    ) -> bool:
        """Graceful shutdown: drain the queue within ``shutdown_timeout``
        (reference orchestrator.py:595-655 waits for the queue to empty
        or time out).

        Every queued task is either PROCESSED or LEFT IN THE QUEUE —
        never silently discarded: tasks whose retry backoff has not
        elapsed are waited for (sleep until the earliest ``not_before``,
        bounded by the deadline) rather than dropped, and the method
        returns False when any task remains unprocessed at the deadline
        so callers know the drain was incomplete. ``sleep`` is
        injectable for tests with a synthetic clock; if it fails to
        advance the clock, the loop exits rather than spinning."""
        self._stop = True
        if not drain:
            return not self._queue
        deadline = self.clock() + self.cfg["shutdown_timeout"]
        while self._queue:
            now = self.clock()
            if now >= deadline:
                break
            # a failure here re-queues with a future not_before via
            # _fail; the backoff wait below then applies to it
            if self._drain(1):
                continue
            target = min(min(t.not_before for t in self._queue), deadline)
            sleep(max(target - now, 0.0))
            if self.clock() <= now:  # non-advancing injected sleep
                break
        self.write_status()
        return not self._queue
