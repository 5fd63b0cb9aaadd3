"""Deployment catalog + blue/green alias manager.

The reference's control plane is Neo4j's system catalog: versioned
databases named ``{customer}-{timestamp}`` plus stable ALIASes that are
atomically repointed at cutover (reference load_with_aliases.py:48,
177-213; manage_aliases.py:27-72; docs/ALIASES.md). This engine keeps
the same model over Spark:

- a **deployment** is a loaded snapshot registered as temp views
  ``dep__{customer}__{ts}_nodes`` / ``dep__{customer}__{ts}_edges``
  (the ``dep__`` prefix + ``__`` separator keep deployment names
  disjoint from alias names for every valid customer id). The views
  are over the pinned sides ``read_snapshot`` returns, so a deployment
  serves the rows its load computed once (for a Flight load: exactly
  what the server acknowledged), whatever later happens to the landing
  files. The catalog unpins a deployment's sides when it drops it
  (retention included) or replaces it under the same name;
- an **alias** is the stable pair of views ``{customer}_nodes`` /
  ``{customer}_edges`` — each view's ``CREATE OR REPLACE`` repoint
  is atomic per view (consumers' next query sees the new snapshot,
  in-flight plans keep their already-resolved one); the nodes/edges
  PAIR is repointed sequentially — see ``set_alias`` for the exact
  consistency contract;
- catalog state (deployments + alias targets) additionally persists in
  a JSON manifest written via temp-file + ``os.replace`` — POSIX-atomic,
  so a crashed writer can never leave a half-written catalog (SURVEY
  §7.3 hard part (b)).

Cypher-equivalent surface (SURVEY §2.11 C1-C9): ``database_exists``
(C1), ``list_databases`` (C2/C3), ``list_aliases`` (C4), ``set_alias`` /
``drop_alias`` (C5), ``drop_database`` (C6), plus ``count_via_alias``
(C9, the consumer contract ``USE alias; MATCH (n) RETURN count(n)``).
"""

from __future__ import annotations

import json
import os
import re
import tempfile
import time
import warnings
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from ..errors import InvalidArgumentError, NotFoundError
from ..sources.snapshot import db_name, take_table, unpin

_NAME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9_]*$")


def _safe(name: str) -> str:
    """Reject identifiers that could smuggle SQL — the reference builds
    Cypher by f-string interpolation (load_with_aliases.py:62, 204),
    flagged injection-prone in SURVEY §4.3; we validate instead.

    ``__`` (double underscore) is additionally reserved: deployment
    views use it as their structural separator (``dep__{cust}__{ts}``),
    so allowing it inside customer ids would re-open the name-collision
    ambiguity the separator exists to close."""
    if not _NAME_RE.match(name) or "__" in name:
        raise InvalidArgumentError(f"invalid identifier: {name!r}")
    return name


def _view(customer_id: str, timestamp: int, kind: str) -> str:
    """Deployment view name, prefixed and ``__``-separated so it can
    never collide with an alias view: customer 'a' at ts 123 maps to
    ``dep__a__123_nodes``, which no alias view (``{cust}_nodes`` with
    ``__``-free cust) can spell."""
    return f"dep__{_safe(customer_id)}__{int(timestamp)}_{kind}"


def _alias_view(customer_id: str, kind: str) -> str:
    return f"{_safe(customer_id)}_{kind}"


class DeploymentCatalog:
    """Catalog of loaded snapshots + blue/green aliases.

    Backed by Spark temp views for query access and a JSON manifest for
    durable state. All mutating operations are idempotent where the
    reference's are (create over existing replaces; drops tolerate
    missing targets only where the reference ignores them).
    """

    def __init__(self, spark: SparkSession, manifest_path: str | Path | None = None):
        if not isinstance(spark, SparkSession):
            raise TypeError(
                "DeploymentCatalog(spark, manifest_path): first argument must "
                f"be a SparkSession, got {type(spark).__name__!r} — a path "
                "passed here yields a catalog that silently cannot create "
                "alias views"
            )
        self.spark = spark
        self.manifest_path = Path(manifest_path) if manifest_path else None
        self._deployments: dict[str, dict] = {}  # db name -> meta
        self._aliases: dict[str, str] = {}  # customer -> db name
        self._frames: dict[str, tuple[DataFrame, DataFrame]] = {}  # db name -> sides
        if self.manifest_path and self.manifest_path.exists():
            state = json.loads(self.manifest_path.read_text())
            self._deployments = state.get("deployments", {})
            self._aliases = state.get("aliases", {})
            self._restore_views()

    def _restore_views(self) -> None:
        """Crash recovery: temp views die with the session, so a catalog
        rebuilt from the manifest re-reads every deployment that recorded
        its source_path and re-points alias views. Deployments loaded
        without a source_path (data handed in as DataFrames) cannot be
        restored and are dropped from the catalog — better an honest
        catalog than a listed-but-unqueryable database. So is one whose
        source fails to read (``OSError``/``ValueError``): one damaged
        tree must not stop the rest of the catalog from restoring. Each
        drop warns with its reason. Pins die with the session too: each
        restored deployment is pinned again at its first read, from
        ``source_path`` as it is now. A small deployment's files are
        read here, on the driver, so a part that no longer reads (cut
        short, say) drops it here rather than at its first read."""
        from ..sources.snapshot import SnapshotRef, read_snapshot

        dead = []
        for name, meta in self._deployments.items():
            src = meta.get("source_path")
            reason = f"source {src} is gone" if src else "no source_path recorded"
            if src and Path(src).exists():
                ref = SnapshotRef(meta["customer_id"], int(meta["timestamp"]), src)
                try:
                    sides = read_snapshot(self.spark, ref)
                except (OSError, ValueError) as exc:
                    reason = f"source {src} failed to read: {exc}"
                else:
                    self._create_views(ref.customer_id, ref.timestamp, *sides)
                    continue
            if not self.spark.catalog.tableExists(
                _view(meta["customer_id"], meta["timestamp"], "nodes")
            ):
                # nothing to rebuild from AND the session no longer has
                # the views: the deployment is unqueryable — drop it
                warnings.warn(f"catalog restore drops {name}: {reason}", stacklevel=3)
                dead.append(name)
        for name in dead:
            self._deployments.pop(name)
            self._aliases = {
                c: n for c, n in self._aliases.items() if n != name
            }
        for customer_id, name in self._aliases.items():
            self._point_alias(customer_id, self._deployments[name]["timestamp"])
        if dead:
            self._persist()

    def _create_views(
        self, customer_id: str, timestamp: int, nodes: DataFrame, edges: DataFrame
    ) -> None:
        """Point the deployment's views at ``nodes``/``edges``, drop the
        Arrow tables a small snapshot's sides were read into (the JVM
        holds their rows) and unpin the sides they replace."""
        take_table(nodes)
        take_table(edges)
        nodes.createOrReplaceTempView(_view(customer_id, timestamp, "nodes"))
        edges.createOrReplaceTempView(_view(customer_id, timestamp, "edges"))
        name = db_name(customer_id, timestamp)
        for old in self._frames.get(name, ()):
            if old is not nodes and old is not edges:
                unpin(old)
        self._frames[name] = (nodes, edges)

    def _point_alias(self, customer_id: str, timestamp: int) -> None:
        for kind in ("nodes", "edges"):
            self.spark.sql(
                f"CREATE OR REPLACE TEMP VIEW {_alias_view(customer_id, kind)} "
                f"AS SELECT * FROM {_view(customer_id, timestamp, kind)}"
            )

    # -- persistence --------------------------------------------------

    def _persist(self) -> None:
        if not self.manifest_path:
            return
        payload = json.dumps(
            {"deployments": self._deployments, "aliases": self._aliases},
            indent=2,
            sort_keys=True,
        )
        fd, tmp = tempfile.mkstemp(
            dir=str(self.manifest_path.parent), prefix=".catalog-", suffix=".json"
        )
        try:
            with os.fdopen(fd, "w") as f:
                f.write(payload)
            os.replace(tmp, self.manifest_path)  # atomic on POSIX
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)

    # -- deployments (C1/C2/C3/C6) ------------------------------------

    def register_deployment(
        self,
        customer_id: str,
        timestamp: int,
        nodes: DataFrame,
        edges: DataFrame,
        source_path: str | None = None,
    ) -> str:
        """Register a loaded snapshot as queryable views; replaces any
        existing deployment of the same identity (reference drops and
        reloads, load_with_aliases.py:57-87), and then unpins the
        replaced deployment's sides. ``source_path`` makes the
        deployment survive session restarts (views are rebuilt from it
        in ``_restore_views``); without it the deployment is
        session-lifetime only."""
        name = db_name(customer_id, timestamp)
        self._create_views(customer_id, timestamp, nodes, edges)
        self._deployments[name] = {
            "customer_id": customer_id,
            "timestamp": int(timestamp),
            "created_at": time.time(),
            "source_path": source_path,
        }
        self._persist()
        return name

    def database_exists(self, name: str) -> bool:
        return name in self._deployments

    def list_databases(self, prefix: str | None = None) -> list[str]:
        names = sorted(self._deployments)
        if prefix is not None:
            names = [n for n in names if n.startswith(prefix)]
        return names

    def drop_database(self, name: str, if_exists: bool = True) -> bool:
        """Drop a deployment and its views and unpin its sides. Refuses
        while an alias still points at it (the reference's alias guard,
        orchestrator.py:410-417)."""
        if name not in self._deployments:
            if if_exists:
                return False
            raise NotFoundError(f"database {name!r} does not exist")
        if name in self._aliases.values():
            raise InvalidArgumentError(f"database {name!r} is still alias-targeted")
        meta = self._deployments.pop(name)
        for kind in ("nodes", "edges"):
            self.spark.catalog.dropTempView(
                _view(meta["customer_id"], meta["timestamp"], kind)
            )
        for df in self._frames.pop(name, ()):
            unpin(df)
        self._persist()
        return True

    # -- aliases (C4/C5) ----------------------------------------------

    def set_alias(self, customer_id: str, timestamp: int) -> str:
        """Repoint the customer's stable views at the given deployment —
        the blue/green cutover (reference load_with_aliases.py:177-213).

        Atomicity contract: the MANIFEST repoint is atomic (one
        ``os.replace``), and each view repoint is individually atomic,
        but the nodes view and the edges view are two separate
        ``CREATE OR REPLACE`` statements — a reader that resolves both
        views in the window between them can join new-generation nodes
        to old-generation edges. The reference's Neo4j alias repoint has
        the same property per alias (it repoints one database alias;
        node/edge consistency there comes from both living in one
        database). Readers needing a consistent pair should resolve both
        views inside one query (single analysis pass) or read both
        ``dep__{customer}__{ts}_*`` views of a known deployment.

        The alias serves the deployment's pinned rows, so a cutover reads
        no files. The generation it leaves stays pinned until retention
        drops it; a read still running over that generation then fails,
        which takes two newer cutovers during one read."""
        name = db_name(customer_id, timestamp)
        if name not in self._deployments:
            raise NotFoundError(f"cannot alias missing database {name!r}")
        self._point_alias(customer_id, timestamp)
        self._aliases[customer_id] = name
        self._persist()
        return name

    def drop_alias(self, customer_id: str, if_exists: bool = True) -> bool:
        if customer_id not in self._aliases:
            if if_exists:
                return False
            raise NotFoundError(f"alias {customer_id!r} does not exist")
        del self._aliases[customer_id]
        for kind in ("nodes", "edges"):
            self.spark.catalog.dropTempView(_alias_view(customer_id, kind))
        self._persist()
        return True

    def list_aliases(self) -> dict[str, str]:
        return dict(self._aliases)

    def alias_target(self, customer_id: str) -> str | None:
        return self._aliases.get(customer_id)

    # -- retention (T1) -----------------------------------------------

    def cleanup_old_deployments(self, customer_id: str, keep_count: int = 2) -> list[str]:
        """Keep the newest ``keep_count`` deployments per customer, drop
        the rest — never the alias target (reference
        orchestrator.py:386-424, keep 2, alias-guarded)."""
        mine = sorted(
            (
                (meta["timestamp"], name)
                for name, meta in self._deployments.items()
                if meta["customer_id"] == customer_id
            ),
            reverse=True,
        )
        dropped = []
        for _, name in mine[keep_count:]:
            if name == self._aliases.get(customer_id):
                continue
            self.drop_database(name)
            dropped.append(name)
        return dropped

    # -- consumer contract (C7/C9) ------------------------------------

    def health(self) -> bool:
        """``RETURN 1`` equivalent (reference orchestrator.py:69): the
        session's SparkContext answers a py4j call and is not stopped.
        Runs no Spark job; raises when the session or its JVM is gone."""
        return not self.spark.sparkContext._jsc.sc().isStopped()

    def count_via_alias(self, customer_id: str, kind: str = "nodes") -> int:
        """``USE <alias>; MATCH (n) RETURN count(n)`` equivalent
        (reference docs/ALIASES.md:29-31)."""
        if kind not in ("nodes", "edges"):
            raise InvalidArgumentError(f"kind must be nodes|edges, got {kind!r}")
        if customer_id not in self._aliases:
            raise NotFoundError(f"alias {customer_id!r} does not exist")
        return self.spark.table(_alias_view(customer_id, kind)).count()
