from .snapshot import (
    discover_snapshots,
    normalize_edges,
    normalize_nodes,
    read_snapshot,
)

__all__ = [
    "discover_snapshots",
    "normalize_edges",
    "normalize_nodes",
    "read_snapshot",
]
