"""The Flight graph sink: a two-phase (nodes strictly before edges) load.

The reference loads through one client class, ``Neo4jArrowClient``,
that holds both the load lifecycle and the Flight calls
(neo4j_arrow_client.py:30-35, 123-296). ``FlightGraphSink`` is that
class here: the state machine CREATE_DATABASE -> feed nodes ->
NODE_LOAD_DONE -> feed edges -> RELATIONSHIP_LOAD_DONE, the barrier
count check and the Flight actions live in it, and each phase sends its
side on one of two routes (see the class). ``GraphSink`` names the same
class, for callers that patch or wrap the phase methods by that name.

``flight_load_fn`` reads pinned sides (``sources.snapshot``), so the
catalog then serves exactly the rows the server acknowledged: a small
side's rows are fixed when ``read_snapshot`` reads them, and its pin is
filled by the deployment's first read; a Spark-scan side's pin is
filled by its put job. A load that fails or is interrupted aborts the
server graph and unpins both sides.

State assertions are real (the reference's broken ``==`` no-op check,
neo4j_arrow_client.py:227, is flagged in SURVEY §4.3 — we assert).
"""

from __future__ import annotations

import enum
import json
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame

from ..errors import InvalidArgumentError, SinkIntegrityError
from ..sources.snapshot import take_table


class SinkState(enum.Enum):
    READY = "ready"
    CREATED = "created"
    FEEDING_NODES = "feeding_nodes"
    FEEDING_EDGES = "feeding_edges"
    DONE = "done"
    ABORTED = "aborted"


@dataclass
class WriteResult:
    rows: int
    bytes: int = 0


class FlightGraphSink:
    """Neo4j GDS Arrow Flight client — runnable gRPC data path.

    Protocol (reference neo4j_arrow_client.py:123-296):
    - lifecycle actions (CREATE_DATABASE / NODE_LOAD_DONE /
      RELATIONSHIP_LOAD_DONE / ABORT) are driver-side DoAction calls
      with a JSON body framing the load;
    - one function, ``put_partition``, streams a partition's pyarrow
      RecordBatches through ONE ``do_put`` whose descriptor command is
      ``{"name": db, "entity_type": "node"|"relationship"}`` on its own
      FlightClient (connections are not serializable — create per
      partition, the lesson of reference neo4j_arrow_client.py:58-73),
      then emits a single (rows, nbytes) stats row, summed into the
      WriteResult. Each phase takes one of two routes, chosen without
      running a job:

      - a side ``read_snapshot`` read on the driver (at most one
        ``spark.sql.files.openCostInBytes`` of Parquet, 4 MB by
        default): the driver streams the Arrow table the side was built
        from (``sources.snapshot.take_table``) in batches of
        ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows, as the
        reference streams from one host (neo4j_pq.py:279-303). No
        Spark job runs and no Python worker starts.
      - any other side, one Spark job: ``df.mapInArrow`` hands each
        executor task its partition, and ``collect`` brings back only
        the stats rows (one stage, no exchange). Throughput scales with
        executors instead of the reference's single-host fork pool
        (neo4j_pq.py:290-303).

    Tested end-to-end over real gRPC against the in-process
    ``flight_server.InMemoryGraphFlightServer`` (tests/test_flight_sink.py).
    No auth middleware is attached — add the reference's
    basic-auth/bearer middleware for secured servers.
    """

    def __init__(self, database: str, host: str = "localhost", port: int = 8491):
        self.database = database
        self.host, self.port = host, port
        self.state = SinkState.READY
        # client-side truth for the barrier cross-check: rows the
        # executors actually streamed, accumulated across write calls
        self._written = {"node": 0, "relationship": 0}

    # -- lifecycle -----------------------------------------------------

    def _require(self, *states: SinkState) -> None:
        if self.state not in states:
            raise InvalidArgumentError(
                f"sink for {self.database!r} in state {self.state.value}, "
                f"expected one of {[s.value for s in states]}"
            )

    def create_database(self) -> None:
        self._require(SinkState.READY)
        self._create()
        self.state = SinkState.CREATED

    def write_nodes(self, nodes: DataFrame) -> WriteResult:
        self._require(SinkState.CREATED, SinkState.FEEDING_NODES)
        self.state = SinkState.FEEDING_NODES
        return self._put(nodes, "node")

    def nodes_done(self) -> dict:
        """Returns the server's acknowledgment (``{"name": ...,
        "node_count": N}``), so callers can cross-check server-side
        counts — the only verification channel when the server runs out
        of process. The barrier cross-checks it automatically: a killed
        writer's half-stream arrives at the server as a clean TCP
        half-close and is silently committed, and Spark's task retry
        then re-streams the whole partition — the server-vs-client count
        mismatch here is the ONLY place that corruption is observable,
        so a mismatch raises SinkIntegrityError instead of finalizing a
        wrong graph."""
        self._require(SinkState.FEEDING_NODES)
        ack = self._barrier("NODE_LOAD_DONE", "node")
        self.state = SinkState.FEEDING_EDGES
        return ack

    def write_edges(self, edges: DataFrame) -> WriteResult:
        self._require(SinkState.FEEDING_EDGES)
        return self._put(edges, "relationship")

    def edges_done(self) -> dict:
        """See nodes_done: returns ``{"relationship_count": N, ...}``
        and applies the same count cross-check."""
        self._require(SinkState.FEEDING_EDGES)
        ack = self._barrier("RELATIONSHIP_LOAD_DONE", "relationship")
        self.state = SinkState.DONE
        return ack

    def _barrier(self, action: str, entity_type: str) -> dict:
        ack = self._action(action, {"name": self.database})
        acked, written = ack.get(f"{entity_type}_count"), self._written[entity_type]
        if acked is not None and acked != written:
            raise SinkIntegrityError(
                f"sink {self.database!r}: server acknowledged {acked} "
                f"{entity_type}s but executors streamed {written} — "
                "half-committed stream from a killed/retried writer; abort "
                "the load"
            )
        return ack

    def abort(self) -> None:
        """Idempotent: aborting an unstarted/aborted sink is a no-op, and
        so is a server answer of NOT_FOUND, as in the reference client
        (neo4j_arrow_client.py:96-121, test_neo4j_arrow_client.py:23-43)."""
        import pyarrow.flight as flight

        if self.state not in (SinkState.READY, SinkState.ABORTED):
            try:
                self._action("ABORT", {"name": self.database})
            except flight.FlightError as e:
                if "NOT_FOUND" not in str(e):
                    raise
        self.state = SinkState.ABORTED

    # -- driver-side Flight actions --------------------------------------

    def _action(self, action: str, body: dict) -> dict:
        import pyarrow.flight as flight

        client = flight.FlightClient(
            flight.Location.for_grpc_tcp(self.host, self.port)
        )
        try:
            result = client.do_action(flight.Action(action, json.dumps(body).encode()))
            first = next(iter(result), None)
            return json.loads(first.body.to_pybytes()) if first is not None else {}
        finally:
            client.close()

    # CREATE_DATABASE gets 10 attempts, 3 s apart, like the reference's
    # @retry_on_failure (neo4j_arrow_client.py:208-225): a just-dropped
    # database of the same name can linger server-side for a few seconds
    # during blue/green churn. _create_sleep is injectable for tests.
    _create_sleep = None

    def _create(self) -> None:
        import time

        sleep = self._create_sleep or time.sleep
        for attempt in range(1, 11):
            try:
                # config mirrors the reference's create_database defaults
                # (neo4j_arrow_client.py:231-239)
                self._action(
                    "CREATE_DATABASE",
                    {
                        "name": self.database,
                        "concurrency": 4,
                        "high_io": True,
                        "force": True,
                        "record_format": "aligned",
                        "id_property": "id",
                        "id_type": "INTEGER",
                    },
                )
                return
            except Exception:
                if attempt == 10:
                    raise
                sleep(3.0)

    # -- data path -----------------------------------------------------

    def _put(self, df: DataFrame, entity_type: str) -> WriteResult:
        host, port = self.host, self.port
        desc = json.dumps({"name": self.database, "entity_type": entity_type}).encode()

        def put_partition(batches):
            # Self-contained closure (ships by value; executors need no
            # package import), also run on the driver for a side's Arrow
            # table. One FlightClient + one do_put stream per partition;
            # empty partitions open no connection.
            import itertools

            import pyarrow as pa
            import pyarrow.flight as flight

            it = iter(batches)
            first = next(it, None)
            rows = nbytes = 0
            if first is not None:
                client = flight.FlightClient(
                    flight.Location.for_grpc_tcp(host, port)
                )
                try:
                    writer, _ = client.do_put(
                        flight.FlightDescriptor.for_command(desc), first.schema
                    )
                    with writer:
                        for b in itertools.chain([first], it):
                            writer.write_batch(b)
                            rows += b.num_rows
                            nbytes += b.get_total_buffer_size()
                finally:
                    client.close()
            yield pa.RecordBatch.from_pydict({"rows": [rows], "nbytes": [nbytes]})

        table = take_table(df)
        if table is not None:
            max_rows = df.sparkSession._jconf.arrowMaxRecordsPerBatch()
            batches = table.to_batches(max_chunksize=max_rows if max_rows > 0 else None)
            stats = pa.Table.from_batches(put_partition(batches)).to_pylist()
        else:
            stats = df.mapInArrow(put_partition, "rows long, nbytes long").collect()
        res = WriteResult(
            rows=sum(r["rows"] for r in stats), bytes=sum(r["nbytes"] for r in stats)
        )
        self._written[entity_type] += res.rows
        return res


# the name perfbench's traced mode and tests wrap the phase methods by
GraphSink = FlightGraphSink


def flight_load_fn(host: str, port: int):
    """Orchestrator-compatible ``load_fn`` that loads each discovered
    snapshot through the Flight sink's two-phase protocol (create ->
    nodes -> barrier -> edges -> done) and records the deployment in
    the catalog. One definition serves the pipeline bench and the
    integration tests, so protocol changes have a single home.

    The registered deployment serves the rows the server acknowledged:
    a small side is streamed from the Arrow table ``read_snapshot``
    built it from, with no Spark job, and the side's in-memory rows
    hold the same rows; any other side's put job fills its pin. A failed
    or interrupted load (Ctrl-C raises ``KeyboardInterrupt`` here)
    aborts the server graph and unpins both sides before the error
    propagates."""
    from ..sources.snapshot import read_snapshot, unpin

    def load(spark, ref, catalog):
        nodes, edges = read_snapshot(spark, ref)
        sink = FlightGraphSink(ref.database, host=host, port=port)
        try:
            sink.create_database()
            sink.write_nodes(nodes)
            sink.nodes_done()
            sink.write_edges(edges)
            sink.edges_done()
        except BaseException:
            # Don't leave the server database stuck in a feeding state:
            # abort the import (reference parity — load_with_aliases.py
            # clears stuck imports via client.abort) before surfacing
            # the failure to the orchestrator's retry loop.
            try:
                sink.abort()
            except Exception:
                pass  # the original error is the one worth raising
            unpin(nodes)
            unpin(edges)
            raise
        catalog.register_deployment(
            ref.customer_id, ref.timestamp, nodes, edges, source_path=str(ref.path)
        )

    return load
