"""The ``query_mix`` workload: registry queries over a seeded warehouse.

One representative query per ``operators`` module, run in a fixed
order as sequential passes (a closed loop with one client). Nothing is
written; the warehouse is read-only. Its operation is one query, timed
from the call that builds its DataFrame until ``collect`` returns; a
window runs whole passes, at least one; each query's latency is the
median of its runs, its CPU time that of its first run.

The first pass warms the session and is part of set-up. Its answers
are hash-compared with each query's DuckDB oracle once per run, after
the measured window; every measured query must return the row count
of the first pass.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import os
import statistics
import time
from dataclasses import dataclass, field

import gen
from proc import tree_cpu_s

# module -> query. dedup_index is left out: its queries build an
# on-disk index outside the data directory, so they are not read-only.
QUERIES = {
    "curation": "q_x14_chunk",
    "dedup": "q_dedup_ngram",
    "graph": "q_g1_degree",
    "multimodal": "q_mm_meta",
    "pandas_surface": "q_udf_zscore",
    "pipeline": "q_x4_split",
    "relational": "q_a1",
    "similarity": "q_x12_quant",
    "sketches": "q_a11_hll",
    "subqueries": "q_sq2_in",
    "temporal": "q_w6_rank",
    "textops": "q_x3_tokens",
    "tpch": "q_h13_custdist",
}
SCALE = {"full": 0.05, "tiny": 0.02}
TINY_MODULES = ("graph", "relational", "textops")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _render(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if v != v else f"{v:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_render(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_render(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def canonical_hash(rows, columns) -> str:
    """Order-insensitive hash: columns sorted by name, values rendered
    to normalized strings, rows sorted."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x01".join(_render(r[i]) for i in idx) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


@dataclass
class Window:
    by_module: dict[str, list[float]] = field(default_factory=dict)
    cpu_by_module: dict[str, list[float]] = field(default_factory=dict)

    @property
    def latencies_s(self) -> list[float]:
        """One latency per query: the median of its runs in the window."""
        return [statistics.median(v) for v in self.by_module.values()]

    def cpu_s_per_op(self, window_cpu_s: float) -> float:
        """Mean over queries of the CPU time of each one's first run in
        the window, read around the query (``window_cpu_s`` is not
        needed). Later passes run warmer, and how many fit in the
        window depends on the machine's speed, so only the first
        counts."""
        return statistics.fmean(v[0] for v in self.cpu_by_module.values())


class QueryMix:
    def __init__(self, bench):
        self.bench = bench
        mods = TINY_MODULES if bench.size == "tiny" else tuple(QUERIES)
        self.queries = [(m, QUERIES[m]) for m in mods]
        self.data = bench.work / "warehouse"
        self.first: dict[str, tuple[str, int]] = {}  # query -> (hash, rows)

    def generate(self) -> dict:
        sizes = gen.warehouse(self.data, self.bench.seed, SCALE[self.bench.size])
        return {"mix_scale": SCALE[self.bench.size], "mix_lineitem_rows": sizes["lineitem"]}

    def set_up(self, rep: int) -> None:
        """Session plus the cheapest query of the mix."""
        from neo4j_blue_green_arrow_etl_spark.operators import REGISTRY

        self.registry = REGISTRY
        spark = self.bench.start_spark()
        REGISTRY["q_x3_tokens"].spark(spark, str(self.data)).collect()

    def tear_down(self) -> None:
        self.bench.stop_spark()

    def close(self) -> None:
        pass

    def warm_up(self) -> None:
        """The first pass; its answers are kept for the oracle check."""
        for _, q in self.queries:
            df = self.registry[q].spark(self.bench.spark, str(self.data))
            rows = df.collect()
            self.first[q] = (canonical_hash(rows, df.columns), len(rows))
            self.bench.sample_rss()

    def measure(self, seconds: float) -> Window:
        """Whole passes until ``seconds`` have passed (at least one), so
        every query runs equally often."""
        bench = self.bench
        win = Window()
        end = time.perf_counter() + seconds
        pid = os.getpid()
        while not win.by_module or time.perf_counter() < end:
            for module, q in self.queries:
                t0, c0 = time.perf_counter(), tree_cpu_s(pid)
                with bench.span(f"operators.{module}", op=q):
                    n = len(self.registry[q].spark(bench.spark, str(self.data)).collect())
                done = time.perf_counter()
                win.cpu_by_module.setdefault(module, []).append(tree_cpu_s(pid) - c0)
                bench.attempt(n == self.first[q][1], f"{q} returned {n} rows")
                win.by_module.setdefault(module, []).append(done - t0)
                bench.sample_rss()
        return win

    def finish(self) -> None:
        import duckdb

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data / t}.parquet')"
                )
            for _, q in self.queries:
                res = con.execute(self.registry[q].oracle)
                cols = [d[0] for d in res.description]
                want = canonical_hash(res.fetchall(), cols)
                self.bench.check(self.first[q][0] == want, f"{q} differs from its oracle")
        finally:
            con.close()

    def layer_metrics(self, tracer, win: Window) -> dict[str, float]:
        return {
            f"operators.{m}_ms": 1000 * statistics.median(win.by_module[m])
            if m in win.by_module
            else 0.0
            for m in QUERIES
        }
