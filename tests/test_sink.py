"""Graph-sink client failure surfacing: the reference's client
lifecycle (CREATE_DATABASE -> nodes -> NODE_LOAD_DONE -> edges ->
RELATIONSHIP_LOAD_DONE, neo4j_arrow_client.py:30-35) against no server.
The state machine and the wire path are tested against a real server in
tests/test_flight_sink.py."""

from __future__ import annotations

import pytest

from neo4j_blue_green_arrow_etl_spark.sinks.graph_sink import FlightGraphSink


def test_flight_sink_unreachable_server_surfaces_error():
    """The Flight sink is now a real gRPC client (see
    tests/test_flight_sink.py for the end-to-end path); with no server
    listening the lifecycle call must fail loudly, not hang or no-op.
    CREATE_DATABASE makes 10 attempts, 3 s apart, before it gives up
    (reference neo4j_arrow_client.py:208-225); the sleeps are recorded,
    not slept."""
    import pyarrow.flight as flight

    sink = FlightGraphSink("cust-1000", host="127.0.0.1", port=1)
    sleeps = []
    sink._create_sleep = sleeps.append
    with pytest.raises(flight.FlightError):
        sink.create_database()
    assert sleeps == [3.0] * 9
