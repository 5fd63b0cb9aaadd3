"""Seeded input generator for the benchmark: pyarrow + NumPy, no Spark.

Two kinds of input:

- graph snapshot trees in the positional contract the engine reads
  (``{customer}/{ts}/nodes/{Label}/*.parquet`` and
  ``.../relationships/{TYPE}/*.parquet``). A *template* is generated
  once per distinct graph; every published snapshot is a hard-linked
  copy of a template, renamed into the watched directory in one
  ``os.rename`` so discovery never sees a partial tree;
- warehouse tables (the TPC-H-ish star schema plus events, documents
  and embeddings) with the column names, types and value domains the
  registry queries expect, for the query mix.

Everything derives from ``numpy.random.default_rng(seed)``: the same
seed gives byte-identical inputs.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NODE_LABELS = ("Entity", "Address")
REL_TYPES = ("KNOWS", "OWNS", "LOCATED_AT")


@dataclass
class Template:
    """One generated snapshot tree plus the facts the checks need."""

    path: Path
    nodes: int
    edges: int
    files: int
    bytes: int
    complete: bool = True
    # consumer-contract expectations, filled only when asked for
    top_degree: list[tuple[int, int]] = field(default_factory=list)
    twohop: int = 0


def _write_split(table: pa.Table, out_dir: Path, n_files: int) -> int:
    out_dir.mkdir(parents=True, exist_ok=True)
    written = 0
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        path = out_dir / f"part-{i:05d}.parquet"
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        written += path.stat().st_size
    return written


def snapshot_template(
    root: Path,
    rng: np.random.Generator,
    nodes: int,
    edges: int,
    files_per_table: int = 4,
    hub_skew: float = 4.0,
    complete: bool = True,
    expectations: bool = False,
) -> Template:
    """Write one snapshot tree under ``root``: 2 label dirs, 3
    relationship-type dirs. ``Address`` is always a single file; every
    other table is split into ``files_per_table`` files. Edge sources
    come from a power law, ``id = n * u ** hub_skew``, so low ids are
    hubs and node 0 has the highest out-degree. ``complete=False``
    writes the nodes only — a tree the completeness gate must never
    admit. ``expectations`` computes the top-10 out-degree and node
    0's 2-hop reach for the read checks."""
    n_entity = nodes * 3 // 4
    n_address = nodes - n_entity
    ids = np.arange(nodes, dtype=np.int64)
    size = 0
    ent = ids[:n_entity]
    size += _write_split(
        pa.table(
            {
                "id": ent,
                "LABELS": np.where(ent % 2 == 0, "Entity", "Entity,Company"),
                "name": pa.array(ent).cast(pa.string()),
                "score": rng.random(n_entity),
            }
        ),
        root / "nodes" / "Entity",
        files_per_table,
    )
    addr = ids[n_entity:]
    size += _write_split(
        pa.table(
            {
                "id": addr,
                "LABELS": np.full(n_address, "Address"),
                "zip": rng.integers(10000, 99999, n_address).astype(np.int32),
            }
        ),
        root / "nodes" / "Address",
        1,
    )
    n_files = files_per_table + 1
    src_all, dst_all = [], []
    if complete:
        per_type = np.full(len(REL_TYPES), edges // len(REL_TYPES))
        per_type[: edges % len(REL_TYPES)] += 1
        for rel, m in zip(REL_TYPES, per_type):
            src = (n_entity * rng.random(m) ** hub_skew).astype(np.int64)
            if rel == "KNOWS":
                dst = rng.integers(0, n_entity, m)
            else:
                dst = n_entity + rng.integers(0, n_address, m)
            src_all.append(src)
            dst_all.append(dst)
            size += _write_split(
                pa.table(
                    {
                        "src": src,
                        "dst": dst,
                        "type": np.full(m, rel),
                        "weight": rng.random(m),
                    }
                ),
                root / "relationships" / rel,
                files_per_table,
            )
            n_files += files_per_table
    tpl = Template(
        root, nodes, edges if complete else 0, n_files, size, complete=complete
    )
    if expectations and complete:
        src = np.concatenate(src_all)
        dst = np.concatenate(dst_all)
        deg = np.bincount(src, minlength=nodes)
        order = np.lexsort((np.arange(nodes), -deg))[:10]
        tpl.top_degree = [(int(i), int(deg[i])) for i in order]
        one = np.unique(dst[src == 0])
        two = np.unique(dst[np.isin(src, one)])
        tpl.twohop = int(np.union1d(one, two).size)
    return tpl


def publish(template: Path, data_root: Path, customer: str, ts: int) -> Path:
    """Hard-link a template into a staging dir next to the watched
    tree, then rename it into ``data_root/customer/ts`` in one step."""
    staging = data_root.parent / "staging" / f"{customer}-{ts}"
    shutil.copytree(template, staging, copy_function=os.link)
    dest = data_root / customer / str(ts)
    dest.parent.mkdir(parents=True, exist_ok=True)
    os.rename(staging, dest)
    return dest


# -- warehouse tables ----------------------------------------------------

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]


def _ts_us(rng, n, start, days):
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(
        base + rng.integers(0, days * 86_400_000_000, n), pa.timestamp("us")
    )


def _days(rng, n, start, days):
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(
        base + rng.integers(0, days, n) * 86_400_000_000, pa.timestamp("us")
    )


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _documents(rng, n):
    lengths = rng.integers(1, 91, n)
    words = np.asarray(_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    # a few exact and near duplicates so the dedup family has work
    for i in range(0, n - 1, 97):
        texts[i + 1] = texts[i]
    for i in range(5, n - 1, 89):
        texts[i + 1] = texts[i] + " dup"
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": _pick(rng, _LANGS, n),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, n, dim=64):
    centers = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, n)
    vec = centers[label] + 0.5 * rng.normal(size=(n, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    flat = pa.array(vec.astype(np.float32).ravel())
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(flat, dim).cast(
                pa.list_(pa.float32())
            ),
            "label": label.astype(np.int32),
        }
    )


def warehouse(out_dir: Path, seed: int, scale: float) -> dict[str, int]:
    """Write the warehouse tables at ``scale`` (1.0 = 600k lineitem
    rows); returns the row count per table."""
    rng = np.random.default_rng(seed)
    out_dir.mkdir(parents=True, exist_ok=True)
    n_cust = max(int(15_000 * scale), 50)
    n_supp = max(int(1_000 * scale), 10)
    n_part = max(int(20_000 * scale), 50)
    n_ord = max(int(150_000 * scale), 200)
    n_line = n_ord * 4
    n_ev = max(int(100_000 * scale), 200)
    n_doc = max(int(5_000 * scale), 100)
    n_emb = max(int(2_000 * scale), 100)

    def money(n, lo, hi):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables = {
        "region": pa.table(
            {
                "r_regionkey": np.arange(5, dtype=np.int32),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": money(n_cust, -999.99, 9999.99),
                "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": money(n_supp, -999.99, 9999.99),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": pa.array(
                    [
                        f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                        for a, b in zip(
                            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
                        )
                    ]
                ),
                "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
                "p_type": _pick(rng, _PART_TYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
                "o_totalprice": money(n_ord, 1000, 500_000),
                "o_orderdate": _days(rng, n_ord, "1995-01-01", 2400),
                "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
            }
        ),
    }
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": np.sort(rng.integers(0, n_ord, n_line)),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days(rng, n_line, "1995-01-02", 2500),
        }
    )
    tables["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts_us(rng, n_ev, "2024-01-01", 30),
            "user_id": rng.integers(0, max(n_ev // 66, 10), n_ev),
            "event_type": _pick(rng, _EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50, n_ev) + 0.01, 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    tables["documents"] = _documents(rng, n_doc)
    tables["embeddings"] = _embeddings(rng, n_emb)
    for name, table in tables.items():
        pq.write_table(table, out_dir / f"{name}.parquet")
    return {name: t.num_rows for name, t in tables.items()}
