"""Benchmark: run every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Execution is forced with a noop-format write (full plan runs, nothing
collected to the driver) so timings measure the engine, not py4j row
transfer.

r10: two fixed sentinels (pure-JVM scan-agg; Arrow identity
mapInPandas) are interleaved through the run; their medians against
pinned idle references yield noise_factor / py_noise_factor and
normalized_value = value / noise_factor — the numbers round-over-round
comparisons and the 2x-of-baseline bar should use (see BASELINE.md's
sentinel-normalized restatement).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from neo4j_blue_green_arrow_etl_spark.operators import REGISTRY
from neo4j_blue_green_arrow_etl_spark.session import HOTSPOT_JIT, get_spark


# --------------------------------------------------------------------------
# Host-noise sentinel (VERDICT r9 task 1): the same code measured 204-257 s
# across four runs of one session — a ±26% host/VM swing that makes raw
# round-over-round comparisons (and the 2x-of-baseline bar) unenforceable.
# A fixed PURE-JVM probe (lineitem scan -> 3-agg groupBy -> noop write, no
# Python workers, no caches) is interleaved K times through the run; its
# median against a pinned reference yields noise_factor, and
# value/noise_factor is the normalized total that comparisons should use.
#
# TWO sentinels because this host's contention is NOT uniform: the
# BASELINE.md-documented co-tenant signature inflates Python-worker
# queries 2-6x while pure-JVM scans hold ~1.3x (observed again while
# building this: q_sim_pq 2.6->16 s in the same run whose JVM sentinel
# read only 1.30). The JVM factor is the primary normalizer (it matches
# the r9 uniform-inflation episode the task targets); the PYTHON factor
# (an Arrow identity mapInPandas — worker fork/exec + Arrow transfer) is
# reported alongside so a Python-biased contention window is attributable
# instead of reading as a code regression.
#
# Reference provenance (2026-08-16, this host, sf0.1 local[32], 12
# post-warm-up samples each): JVM sentinel 0.29-0.49 s, quiet-floor tail
# median 0.32; Python sentinel 0.25-0.37 s, median 0.28. The constants
# only anchor the scale; consistency across rounds is what makes
# normalized deltas comparable.
SENTINEL_REF_SEC = 0.32
SENTINEL_PY_REF_SEC = 0.28
# r11 (VERDICT r10 task 2): the identity Arrow sentinel measures worker
# fork/exec + transfer, NOT sustained Python compute — the contention
# class that actually hit q_sim_pq in r10 (2.07x normalized with
# byte-identical shuffle) was compute-biased and slipped between both
# sentinels. The third sentinel holds every core in a fixed NumPy
# matmul loop inside mapInPandas; its factor attributes compute-class
# contention (it is NOT the normalizer — the JVM factor stays primary).
# Reference provenance (2026-08-16, this host, local[32], 12 post-warm
# samples): 0.51-0.79 s under ambient load, quiet-floor tail median 0.55.
SENTINEL_PYCOMPUTE_REF_SEC = 0.55
SENTINEL_EVERY = 25  # one sample of each sentinel per this many queries


def _sentinel_sec(spark, sf_dir: str) -> float:
    from pyspark.sql import functions as F

    t0 = time.time()
    (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(
            F.sum("l_quantity").alias("q"),
            F.avg("l_extendedprice").alias("p"),
            F.count("*").alias("c"),
        )
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return time.time() - t0


def _sentinel_py_sec(spark, sf_dir: str) -> float:
    def ident(it):
        for pdf in it:
            yield pdf

    t0 = time.time()
    (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("n_chars")
        .mapInPandas(ident, schema="n_chars int")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return time.time() - t0


def _sentinel_pycompute_sec(spark) -> float:
    """Sustained Python-worker COMPUTE sentinel: 32 partitions each run
    a fixed 400x400 matmul+tanh loop (~1 GFLOP/partition) — pinned
    work, no input data dependence, so its wall time moves only with
    the host's available CPU for Python processes."""

    def work(it):
        import numpy as np
        import pandas as pd

        a = (
            np.arange(160_000, dtype=np.float64).reshape(400, 400)
            / 1.0e5
        )
        s = 0.0
        for _pdf in it:
            for _ in range(8):
                a = np.tanh(a @ a.T / 400.0)
            s += float(a.sum())
        yield pd.DataFrame({"s": [s]})

    t0 = time.time()
    (
        spark.range(32, numPartitions=32)
        .mapInPandas(work, schema="s double")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return time.time() - t0


_METRIC_KEYS = (
    "shuffleWriteBytes",
    "shuffleReadBytes",
    "inputBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


def _stage_totals(port: int, app_id: str) -> dict[str, int]:
    """Cumulative per-app stage metrics from the UI REST API — the
    measured counterpart of PLANSTATS' compile-time shuffle counts."""
    import urllib.request

    url = f"http://localhost:{port}/api/v1/applications/{app_id}/stages"
    stages = json.loads(urllib.request.urlopen(url, timeout=10).read())
    return {
        k: sum(s.get(k, 0) for s in stages) for k in _METRIC_KEYS
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(Path(sf_dir).name.replace("sf", "") or "0.1")
    # SPARK_GRAFT_BENCH_METRICS=1 additionally records per-query shuffle
    # read/write, input, and spill bytes (UI REST deltas) — evidence for
    # the per-operator scale claims; off by default so the driver's
    # bench contract (one JSON line, {"queries": {name: sec}}) is
    # byte-identical to previous rounds.
    with_metrics = os.environ.get("SPARK_GRAFT_BENCH_METRICS") == "1"
    # One long pass over the registry turns its planning code hot, so
    # the session keeps HotSpot's default JIT thresholds (session.py).
    spark = get_spark(
        "bench",
        extra_conf=(
            {
                **HOTSPOT_JIT,
                "spark.ui.enabled": "true",
                "spark.ui.port": "4049",
                # Deltas are computed from CUMULATIVE /stages totals; the
                # UI store evicts past retainedStages (default 1000) and
                # the totals then SHRINK between polls, producing negative
                # per-query deltas (ADVICE r3: BENCH_METRICS_r3.json had
                # shuffleWriteBytes=-9631691). 148 queries incl. iterative
                # CC/PageRank produce ~4-5k stages; retain them all.
                "spark.ui.retainedStages": "100000",
                "spark.ui.retainedJobs": "100000",
            }
            if with_metrics
            else HOTSPOT_JIT
        ),
    )
    app_id = spark.sparkContext.applicationId
    # the ACTUAL bound port: Spark walks forward from the requested one
    # when it's taken (spark.port.maxRetries), so trusting 4049 would
    # poll a stranger's UI — or nothing — whenever another session runs
    ui_port = 0
    if with_metrics:
        url = spark.sparkContext.uiWebUrl or ""
        if ":" not in url:
            # metrics are meaningless without the real UI endpoint —
            # fail loudly rather than silently polling a guessed port
            raise RuntimeError(
                "SPARK_GRAFT_BENCH_METRICS=1 but the Spark UI did not "
                f"come up (uiWebUrl={url!r})"
            )
        ui_port = int(url.rsplit(":", 1)[1])

    # Warm the JVM/codegen so per-query numbers measure steady state.
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    # Warm the local-relation (createDataFrame) path too: its first use
    # lazily initializes conversion machinery worth ~4-7 s, which would
    # otherwise be billed to whichever fixture-based query runs first.
    spark.createDataFrame([(1,)], "a int").write.format("noop").mode(
        "overwrite"
    ).save()
    # Exercise each major physical-operator class once at the SMOKE
    # scale before the timed loop: whole-stage-codegen compilation and
    # C2 JIT of HashAggregate / SortMergeJoin / Window / Expand /
    # broadcast / checkpoint paths otherwise land on whichever query
    # alphabetically hits them first — measured as multi-second
    # first-hit penalties that make per-query numbers order-dependent
    # (iterative graph queries varied 2x run-to-run). Warm-up work is
    # sf0.001 (~trivial); timings below remain the steady-state cost.
    smoke = "/root/testdata/sf0.001"
    if Path(smoke).is_dir():
        for wname in ("q_a1", "q_j5", "q_w2", "q_a4", "q_g6_bfs"):
            if wname in REGISTRY:
                try:
                    REGISTRY[wname].spark(spark, smoke).write.format(
                        "noop"
                    ).mode("overwrite").save()
                except Exception:
                    pass
        spark.catalog.clearCache()

    # SPARK_GRAFT_BENCH_PASSES=N (default 1, the driver contract): run
    # the whole loop N times and keep the per-query MIN. This session's
    # hypervisor neighbors inject one-sided multi-second spikes (same
    # code measured 181s and 218s back-to-back); min-of-passes is the
    # standard estimator for that noise shape and still includes the
    # ~0.3s job-launch floor. Committed BENCH_LOCAL artifacts record the
    # pass count; the driver's single-pass run is unaffected.
    passes = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "1")))
    timings: dict[str, float] = {}
    metrics: dict[str, dict[str, int]] = {}
    base = _stage_totals(ui_port, app_id) if with_metrics else {}
    # warm both sentinels' codegen/worker pools once so their samples
    # measure the host, not first-hit compilation; then leading samples
    _sentinel_sec(spark, sf_dir)
    _sentinel_py_sec(spark, sf_dir)
    _sentinel_pycompute_sec(spark)
    sentinel_samples: list[float] = [_sentinel_sec(spark, sf_dir)]
    sentinel_py_samples: list[float] = [_sentinel_py_sec(spark, sf_dir)]
    sentinel_pc_samples: list[float] = [_sentinel_pycompute_sec(spark)]
    since_sentinel = 0
    for pass_i in range(passes):
        for name in sorted(REGISTRY):
            if REGISTRY[name].alias_of:
                continue  # driver-window alias: same code already timed
            since_sentinel += 1
            if since_sentinel >= SENTINEL_EVERY:
                sentinel_samples.append(_sentinel_sec(spark, sf_dir))
                sentinel_py_samples.append(_sentinel_py_sec(spark, sf_dir))
                sentinel_pc_samples.append(_sentinel_pycompute_sec(spark))
                since_sentinel = 0
            t0 = time.time()
            try:
                df = REGISTRY[name].spark(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                took = round(time.time() - t0, 3)
                prev = timings.get(name, took)
                # prev may be the -1.0 failure sentinel from an earlier
                # pass; a successful pass always supersedes it.
                timings[name] = took if prev < 0 else min(prev, took)
            except Exception as e:  # a failing query must not hide the rest
                print(f"bench error in {name}: {e}", file=sys.stderr)
                # A transient failure must not poison a timing that an
                # earlier pass already recorded, and a later successful
                # pass must be able to replace the -1 sentinel.
                if timings.get(name, -1.0) < 0:
                    timings[name] = -1.0
            # Per-query cache hygiene: some operators hold lazy caches
            # (e.g. the dedup shingle table) that the CacheManager would
            # otherwise keep alive for the REST of the run — 178 queries
            # in one JVM accumulate those plus localCheckpoint blocks
            # into GC pressure that inflates the tail queries' timings.
            # Each query is measured self-contained, so dropping caches
            # after its timing is recorded biases nothing.
            spark.catalog.clearCache()
            if with_metrics and pass_i == 0:
                now = _stage_totals(ui_port, app_id)
                delta = {k: now[k] - base[k] for k in _METRIC_KEYS}
                neg = {k: v for k, v in delta.items() if v < 0}
                if neg:
                    # eviction slipped through retainedStages anyway:
                    # flag the query loudly and null its row rather than
                    # recording corrupt numbers downstream tools would
                    # render as real
                    print(
                        f"bench metrics CORRUPT for {name} "
                        f"(stage eviction): {neg}",
                        file=sys.stderr,
                    )
                    delta = {k: None for k in _METRIC_KEYS}
                metrics[name] = delta
                base = now
    sentinel_samples.append(_sentinel_sec(spark, sf_dir))  # trailing
    sentinel_py_samples.append(_sentinel_py_sec(spark, sf_dir))
    sentinel_pc_samples.append(_sentinel_pycompute_sec(spark))
    total = round(sum(t for t in timings.values() if t >= 0), 3)
    import statistics

    sent_median = round(statistics.median(sentinel_samples), 3)
    noise_factor = round(sent_median / SENTINEL_REF_SEC, 3)
    sent_py_median = round(statistics.median(sentinel_py_samples), 3)
    py_noise_factor = round(sent_py_median / SENTINEL_PY_REF_SEC, 3)
    sent_pc_median = round(statistics.median(sentinel_pc_samples), 3)
    pycompute_noise_factor = round(
        sent_pc_median / SENTINEL_PYCOMPUTE_REF_SEC, 3
    )
    sentinel = {
        "jvm": {
            "samples": [round(s, 3) for s in sentinel_samples],
            "median_sec": sent_median,
            "reference_sec": SENTINEL_REF_SEC,
            "noise_factor": noise_factor,
        },
        "python_worker": {
            "samples": [round(s, 3) for s in sentinel_py_samples],
            "median_sec": sent_py_median,
            "reference_sec": SENTINEL_PY_REF_SEC,
            "noise_factor": py_noise_factor,
        },
        "python_compute": {
            "samples": [round(s, 3) for s in sentinel_pc_samples],
            "median_sec": sent_pc_median,
            "reference_sec": SENTINEL_PYCOMPUTE_REF_SEC,
            "noise_factor": pycompute_noise_factor,
        },
    }
    normalized_total = round(total / noise_factor, 3) if noise_factor > 0 else None
    payload = {
        "metric": "total_sec_all_queries",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "sentinel": sentinel,
        "normalized_value": normalized_total,
    }
    if passes > 1:
        payload["passes"] = passes
        payload["estimator"] = "min"
    if with_metrics:
        payload["stage_metrics"] = metrics
    print(json.dumps(payload))
    # The driver records only the TAIL of stdout and parses its last
    # line — with 180+ queries the full JSON line above gets truncated
    # from the FRONT, losing the total and everything alphabetically
    # early ("parsed": null in BENCH_r04/r05). So the very LAST line is
    # a compact, complete JSON carrying the headline numbers: the
    # total, query/failure counts, and the slowest-10 map. The full
    # per-query map stays in the line above and in the committed
    # BENCH_LOCAL artifact (SPARK_GRAFT_BENCH_OUT).
    slowest = dict(
        sorted(
            ((n, t) for n, t in timings.items() if t >= 0),
            key=lambda kv: -kv[1],
        )[:10]
    )
    summary_line = {
        "metric": "total_sec_all_queries",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": sum(1 for t in timings.values() if t >= 0),
        "n_failed": sum(1 for t in timings.values() if t < 0),
        "noise_factor": noise_factor,
        "py_noise_factor": py_noise_factor,
        "pycompute_noise_factor": pycompute_noise_factor,
        "normalized_value": normalized_total,
        "sentinel_median_sec": sent_median,
        "sentinel_reference_sec": SENTINEL_REF_SEC,
        "queries": slowest,
        "note": "slowest-10 only; full per-query map in the previous "
        "stdout line / SPARK_GRAFT_BENCH_OUT artifact. noise_factor = "
        "median of interleaved pure-JVM sentinel runs / pinned idle "
        "reference; normalized_value = value / noise_factor is the "
        "number round-over-round comparisons should use. "
        "py_noise_factor is the Arrow/Python-worker sentinel's factor: "
        "when it far exceeds noise_factor, the host's contention is "
        "Python-biased and Pandas-path queries inflate without any "
        "code regression. pycompute_noise_factor (r11) is the "
        "sustained-NumPy-compute sentinel's factor: it attributes the "
        "compute-class contention that moves neither other sentinel "
        "(the mode that inflated q_sim_pq 2x in r10).",
    }
    if passes > 1:
        summary_line["passes"] = passes
        summary_line["estimator"] = "min"
    print(json.dumps(summary_line))
    # The driver artifact truncates long tails; keep a durable full copy
    # in the repo (overwritten per run, committed per round).
    out = os.environ.get("SPARK_GRAFT_BENCH_OUT")
    if out:
        Path(out).write_text(json.dumps(payload, indent=1) + "\n")


if __name__ == "__main__":
    main()
