"""Typed errors the catalog, the sink and the CLI raise or catch.

The reference's Flight error interpreter (neo4j_arrow_error.py:17-30)
maps status strings to exception types. It is not carried over: the
sink handles exactly one Flight status itself, NOT_FOUND on abort
(``FlightGraphSink._abort``).
"""

from __future__ import annotations


class EngineError(Exception):
    """Base class for engine errors."""


class NotFoundError(EngineError):
    """Entity (database/table/alias/import) does not exist."""


class InvalidArgumentError(EngineError):
    """Caller supplied a bad name/config/schema."""


class SinkIntegrityError(EngineError):
    """Server-acknowledged row count disagrees with the rows the
    executors streamed — the signature of a half-committed stream from
    a killed/retried writer task. The load must be aborted, not
    finalized."""
