"""In-process Arrow Flight graph-load server.

Implements the server half of the reference's GDS Flight protocol
(reference neo4j_arrow_client.py:123-296): lifecycle DoActions
``CREATE_DATABASE`` / ``NODE_LOAD_DONE`` / ``RELATIONSHIP_LOAD_DONE`` /
``ABORT``, and a ``do_put`` data path whose FlightDescriptor command is
``{"name": <graph>, "entity_type": "node"|"relationship"}``.

Purpose: make the FlightGraphSink data path integration-testable over
REAL gRPC without a Neo4j instance — the server enforces the same state
machine the real service does (nodes strictly before edges, puts only
in the matching phase) and records row counts per entity type. It is a
protocol fake, not a graph database: batches are counted and their
schemas remembered, not stored.

Scale note: in production the server is the external GDS service; this
class exists so the per-partition executor streaming path (see
graph_sink.FlightGraphSink) is exercised end-to-end in CI. Thread-safe:
executor tasks stream partitions concurrently.
"""

from __future__ import annotations

import json
import threading
from typing import Any

import pyarrow.flight as flight


class GraphLoadState:
    READY = "ready"
    FEEDING_NODES = "feeding_nodes"
    FEEDING_EDGES = "feeding_edges"
    DONE = "done"


class InMemoryGraphFlightServer(flight.FlightServerBase):
    """Protocol-faithful fake of the GDS Arrow load service."""

    def __init__(self, location: str = "grpc://127.0.0.1:0"):
        super().__init__(location)
        self.graphs: dict[str, dict[str, Any]] = {}
        self._lock = threading.Lock()
        # concurrency gauge: how many do_put streams were open at once
        # (high-water mark). Lets tests assert the executor data path
        # really streams partitions in parallel rather than serially.
        self._active_puts = 0
        self.max_concurrent_puts = 0

    # -- lifecycle actions (reference neo4j_arrow_client.py:123-149) ----

    def do_action(self, context, action):  # noqa: ANN001
        body = json.loads(action.body.to_pybytes() or b"{}")
        name = body.get("name")
        kind = action.type
        with self._lock:
            if kind == "CREATE_DATABASE":
                # force=True semantics: re-create replaces (reference
                # create_database config, neo4j_arrow_client.py:231-239)
                self.graphs[name] = {
                    "state": GraphLoadState.FEEDING_NODES,
                    "nodes": 0,
                    "relationships": 0,
                    "put_calls": 0,
                    "schemas": {},
                    "config": body,
                }
                result = {"name": name}
            elif kind == "NODE_LOAD_DONE":
                g = self._graph(name)
                self._require(name, g, GraphLoadState.FEEDING_NODES)
                g["state"] = GraphLoadState.FEEDING_EDGES
                result = {"name": name, "node_count": g["nodes"]}
            elif kind == "RELATIONSHIP_LOAD_DONE":
                g = self._graph(name)
                self._require(name, g, GraphLoadState.FEEDING_EDGES)
                g["state"] = GraphLoadState.DONE
                result = {"name": name, "relationship_count": g["relationships"]}
            elif kind == "ABORT":
                if name not in self.graphs:
                    # reference server answers NOT_FOUND when there is
                    # nothing to abort; the client treats it as a no-op
                    raise flight.FlightServerError(f"NOT_FOUND: no import for {name!r}")
                del self.graphs[name]
                result = {"name": name}
            else:
                raise flight.FlightServerError(f"unknown action {kind!r}")
        yield flight.Result(json.dumps(result).encode())

    # -- data path ------------------------------------------------------

    def do_put(self, context, descriptor, reader, writer):  # noqa: ANN001
        cmd = json.loads(descriptor.command.decode())
        name, entity = cmd["name"], cmd["entity_type"]
        expected = (
            GraphLoadState.FEEDING_NODES
            if entity == "node"
            else GraphLoadState.FEEDING_EDGES
        )
        with self._lock:
            g = self._graph(name)
            self._require(name, g, expected)
            self._active_puts += 1
            self.max_concurrent_puts = max(
                self.max_concurrent_puts, self._active_puts
            )
        rows = 0
        schema = reader.schema
        try:
            # A writer killed mid-stream is NOT reliably detectable here:
            # the dying process's TCP half-close reads as a clean end of
            # stream, so its partial rows land — and Spark's task retry
            # then re-streams the whole partition. The protocol's defense
            # is the barrier count cross-check (FlightGraphSink._barrier):
            # the lifecycle ACK carries this server-side total, and the
            # client aborts on mismatch instead of finalizing.
            for chunk in reader:
                rows += chunk.data.num_rows
        finally:
            with self._lock:
                self._active_puts -= 1
        with self._lock:
            g = self._graph(name)
            self._require(name, g, expected)  # phase may have moved mid-stream
            key = "nodes" if entity == "node" else "relationships"
            g[key] += rows
            g["put_calls"] += 1
            g["schemas"][entity] = schema

    # -- helpers --------------------------------------------------------

    def _graph(self, name: str) -> dict[str, Any]:
        if name not in self.graphs:
            raise flight.FlightServerError(f"NOT_FOUND: graph {name!r}")
        return self.graphs[name]

    @staticmethod
    def _require(name: str, g: dict[str, Any], state: str) -> None:
        if g["state"] != state:
            raise flight.FlightServerError(
                f"graph {name!r} in state {g['state']!r}, expected {state!r}"
            )

    @property
    def location_uri(self) -> str:
        return f"grpc://127.0.0.1:{self.port}"
