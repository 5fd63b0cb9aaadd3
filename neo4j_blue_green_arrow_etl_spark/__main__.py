"""CLI parity with the reference's scripts/ tools.

Reference command                      -> this CLI
  load_with_aliases.py --customer C \
      --timestamp T [--no-switch]      -> load --customer C --timestamp T
  orchestrator.py                      -> orchestrate [--cycles N]
  manage_aliases.py list|create|drop   -> aliases [--set C T | --drop C]
  (SHOW DATABASES, C1-C3)              -> databases [--prefix P]
  simulate_snapshot.py                 -> simulate --customer C --source-ts A --new-ts B
  docs/ALIASES.md count contract (C9)  -> count --customer C [--kind edges]

State persists across invocations via the manifest (``--manifest``,
default ``{base}/manifest.json``) — the catalog rebuilds deployment
views from recorded snapshot paths on every start (crash recovery),
so ``load`` in one process and ``count`` in another just work.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import time
from pathlib import Path


def _catalog(args):
    from .plans.catalog import DeploymentCatalog
    from .session import get_spark

    spark = get_spark("neo4j_blue_green_arrow_etl_spark-cli")
    manifest = args.manifest or str(Path(args.base) / "manifest.json")
    return spark, DeploymentCatalog(spark, manifest)


def cmd_load(args) -> int:
    from .sources.snapshot import SnapshotRef
    from .streaming.orchestrator import load_snapshot

    spark, cat = _catalog(args)
    path = Path(args.base) / args.customer / str(args.timestamp)
    if not path.exists():
        print(f"error: snapshot path {path} does not exist", file=sys.stderr)
        return 1
    ref = SnapshotRef(args.customer, args.timestamp, str(path))
    t0 = time.time()
    nodes, edges = load_snapshot(spark, ref, cat)
    n, e = nodes.count(), edges.count()
    secs = time.time() - t0
    print(
        f"loaded {ref.database}: {n} nodes, {e} edges in {secs:.1f}s "
        f"({(n + e) / max(secs, 1e-9):,.0f} rows/s)"
    )
    if not args.no_switch:
        cat.set_alias(args.customer, args.timestamp)
        print(f"alias {args.customer} -> {ref.database}")
    return 0


def cmd_orchestrate(args) -> int:
    from .streaming.orchestrator import Orchestrator

    spark, cat = _catalog(args)
    orch = Orchestrator(
        spark,
        args.base,
        catalog=cat,
        status_path=Path(args.base) / "status.json",
    )
    drained = True
    try:
        if args.cycles:
            for _ in range(args.cycles):
                orch.run_cycle()
        else:
            orch.run()  # until interrupted (30 s scan interval, ST1)
    except KeyboardInterrupt:
        # Ctrl-C: load what is queued within shutdown_timeout (ST8)
        drained = orch.stop()
    print(json.dumps(orch.stats.as_dict(), indent=2))
    return 0 if drained else 1


def cmd_aliases(args) -> int:
    spark, cat = _catalog(args)
    if args.set:
        customer, ts = args.set
        cat.set_alias(customer, int(ts))
        print(f"alias {customer} -> {customer}-{ts}")
    elif args.drop:
        cat.drop_alias(args.drop)
        print(f"dropped alias {args.drop}")
    for customer, db in sorted(cat.list_aliases().items()):
        print(f"{customer} -> {db}")
    return 0


def cmd_databases(args) -> int:
    spark, cat = _catalog(args)
    for name in cat.list_databases(prefix=args.prefix):
        print(name)
    return 0


def cmd_simulate(args) -> int:
    src = Path(args.base) / args.customer / str(args.source_ts)
    ts = args.new_ts or int(time.time())
    dst = Path(args.base) / args.customer / str(ts)
    if not src.exists():
        print(f"error: source snapshot {src} does not exist", file=sys.stderr)
        return 1
    if dst.exists():
        print(f"error: target snapshot {dst} already exists", file=sys.stderr)
        return 1
    shutil.copytree(src, dst)
    print(f"simulated snapshot {args.customer}/{ts} (copied from {args.source_ts})")
    return 0


def cmd_count(args) -> int:
    spark, cat = _catalog(args)
    print(cat.count_via_alias(args.customer, args.kind))
    return 0


def cmd_demo(args) -> int:
    """End-to-end blue/green demo (reference scripts/demo_workflow.py):
    synthesize snapshot trees, load blue with alias switch, load green
    WITHOUT switching, verify aliases still read blue, cut over, verify
    green, retention-clean. ``--cleanup`` is scripts/cleanup_demo.py:
    drop demo aliases + databases and remove the synthesized trees."""
    from .fixtures import materialize_snapshot

    spark, cat = _catalog(args)
    customers = [f"democust{i}" for i in range(1, args.customers + 1)]
    blue_ts, green_ts = 1767741427, 1767741527

    if args.cleanup:
        for c in customers:
            cat.drop_alias(c, if_exists=True)
        for c in customers:
            for name in cat.list_databases(prefix=f"{c}-"):
                cat.drop_database(name)
            shutil.rmtree(Path(args.base) / c, ignore_errors=True)
        print(f"demo cleaned up ({len(customers)} customers)")
        return 0

    print(f"PHASE 0: synthesizing {len(customers)} x 2 snapshot trees")
    for c in customers:
        for ts in (blue_ts, green_ts):
            materialize_snapshot(spark, args.sf_dir, args.base, c, ts)

    print("PHASE 1: blue deployments (load + switch alias)")
    from .sources.snapshot import SnapshotRef
    from .streaming.orchestrator import load_snapshot

    def load(c: str, ts: int) -> None:
        path = Path(args.base) / c / str(ts)
        load_snapshot(spark, SnapshotRef(c, ts, str(path)), cat)

    for c in customers:
        load(c, blue_ts)
        cat.set_alias(c, blue_ts)
        print(f"  {c} alias -> {c}-{blue_ts}")

    print("PHASE 2: green deployments (load, NO switch)")
    blue_counts = {c: cat.count_via_alias(c) for c in customers}
    for c in customers:
        load(c, green_ts)
        assert cat.alias_target(c) == f"{c}-{blue_ts}", "alias moved early!"
    assert {c: cat.count_via_alias(c) for c in customers} == blue_counts
    print("  aliases still serve blue while green is staged")

    print("PHASE 3: cutover (atomic per-view alias repoint)")
    for c in customers:
        cat.set_alias(c, green_ts)
        n = cat.count_via_alias(c)
        print(f"  {c} alias -> {c}-{green_ts} ({n} nodes)")

    print("PHASE 4: retention (keep newest 2, alias-guarded)")
    for c in customers:
        dropped = cat.cleanup_old_deployments(c, keep_count=2)
        print(f"  {c}: dropped {dropped or 'nothing'}")
    print("demo complete; run with --cleanup to tear down")
    return 0


def cmd_sql(args) -> int:
    """Ad-hoc SQL over the engine's surface — the cypher-shell analogue
    for reference users: the deployment catalog's alias views
    ({customer}_nodes/{customer}_edges) are restored from the manifest,
    and with --sf-dir the warehouse tables (lineitem, documents, ...)
    are registered as temp views too. Results print as JSON lines
    (bounded by --limit so a SELECT * can't flood the terminal)."""
    from . import WAREHOUSE_TABLES

    spark, cat = _catalog(args)  # restores alias views from the manifest
    if args.sf_dir:
        for t in WAREHOUSE_TABLES:
            p = Path(args.sf_dir) / f"{t}.parquet"
            if p.exists():
                spark.read.parquet(str(p)).createOrReplaceTempView(t)
    df = spark.sql(args.query)
    # fetch limit+1 so 'limit reached' means TRUNCATED, not merely
    # result-cardinality == limit
    rows = df.limit(args.limit + 1).collect()
    truncated = len(rows) > args.limit
    rows = rows[: args.limit]
    for r in rows:
        print(json.dumps(r.asDict(), default=str))
    print(
        f"-- {len(rows)} row(s){' (limit reached)' if truncated else ''}",
        file=sys.stderr,
    )
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="python -m neo4j_blue_green_arrow_etl_spark",
        description="Blue/green property-graph snapshot engine (PySpark)",
    )
    p.add_argument("--base", default="data", help="snapshot base directory")
    p.add_argument("--manifest", default=None, help="catalog manifest path")
    sub = p.add_subparsers(dest="command", required=True)

    sp = sub.add_parser("load", help="load one snapshot and switch its alias")
    sp.add_argument("--customer", required=True)
    sp.add_argument("--timestamp", type=int, required=True)
    sp.add_argument("--no-switch", action="store_true")
    sp.set_defaults(fn=cmd_load)

    sp = sub.add_parser("orchestrate", help="run the discovery/load loop")
    sp.add_argument(
        "--cycles", type=int, default=0, help="0 = run until Ctrl-C, which drains the queue"
    )
    sp.set_defaults(fn=cmd_orchestrate)

    sp = sub.add_parser("aliases", help="list/set/drop aliases")
    sp.add_argument("--set", nargs=2, metavar=("CUSTOMER", "TS"))
    sp.add_argument("--drop", metavar="CUSTOMER")
    sp.set_defaults(fn=cmd_aliases)

    sp = sub.add_parser("databases", help="list deployments")
    sp.add_argument("--prefix", default=None)
    sp.set_defaults(fn=cmd_databases)

    sp = sub.add_parser("simulate", help="copy a snapshot to a new timestamp")
    sp.add_argument("--customer", required=True)
    sp.add_argument("--source-ts", type=int, required=True)
    sp.add_argument("--new-ts", type=int, default=None)
    sp.set_defaults(fn=cmd_simulate)

    sp = sub.add_parser("count", help="count nodes/edges via a customer alias")
    sp.add_argument("--customer", required=True)
    sp.add_argument("--kind", choices=("nodes", "edges"), default="nodes")
    sp.set_defaults(fn=cmd_count)

    sp = sub.add_parser(
        "demo", help="end-to-end blue/green demo (see also: demo --cleanup)"
    )
    sp.add_argument("--customers", type=int, default=2)
    sp.add_argument(
        "--sf-dir", default="/root/testdata/sf0.001", help="source tables for fixtures"
    )
    sp.add_argument("--cleanup", action="store_true", help="tear the demo down")
    sp.set_defaults(fn=cmd_demo)

    sp = sub.add_parser(
        "sql",
        help="run ad-hoc SQL over catalog alias views (+ --sf-dir "
        "warehouse tables); rows print as JSON lines",
    )
    sp.add_argument("query")
    sp.add_argument(
        "--sf-dir",
        default=None,
        help="also register the testdata tables as temp views",
    )
    sp.add_argument("--limit", type=int, default=100)
    sp.set_defaults(fn=cmd_sql)

    args = p.parse_args(argv)
    from .errors import EngineError

    try:
        return args.fn(args)
    except EngineError as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 1


if __name__ == "__main__":
    raise SystemExit(main())
