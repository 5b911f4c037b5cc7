"""Broadcast guard shared by the loop operators (graph, dedup, clustering).

A loop round joins a large edge side with a node-sized side (ranks,
labels). When the driver already holds an exact row count of the node
side, a ``BROADCAST`` hint lets the edges stream through a broadcast
hash join from the first round; without it AQE shuffles the edge side
first and only then turns the join into a broadcast. The hint only picks
the physical join, never the result.
"""

from __future__ import annotations

import os as _os

#: Upper bound, in bytes, of a hinted broadcast side. Env-overridable so
#: a cluster deployment with more executor/driver headroom can raise it;
#: past the bound the shuffle joins take over (same result).
_EDGE_BCAST_MAX_BYTES = int(_os.environ.get(
    "SPARK_GRAFT_EDGE_BCAST_MAX_BYTES", str(128 << 20)))


def bcast_fits(n_rows: int, row_bytes: int = 64) -> bool:
    """True when ``n_rows`` hashed rows of about ``row_bytes`` bytes each
    (64 for a (long, long) row) fit ``_EDGE_BCAST_MAX_BYTES``."""
    return int(n_rows) * int(row_bytes) <= _EDGE_BCAST_MAX_BYTES
