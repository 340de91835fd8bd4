"""Size-guarded broadcast hints.

Several operators force a broadcast hint because a ``localCheckpoint``
upstream erases the statistics that would let Catalyst pick the
broadcast itself (guide §3.1). An UNCONDITIONAL hint bypasses the
planner's size checks: at 100 TB a build side that is "tiny next to
the corpus" locally can exceed the hard 8 GB / 512M-row broadcast cap
and kill the driver instead of degrading to a shuffle join (r16
VERDICT #1). The fix is the same runtime-size decision AQE would make
if the checkpoint kept stats: one driver-side count on the ALREADY
MATERIALIZED side, hint only under a threshold, plain join above it —
the over-threshold plan degrades gracefully to sort-merge/shuffled
hash, never to an OOM.

Callers pass the row count they already have (every gated site counts
a checkpointed relation it needs materialized anyway, so the count is
one cheap pass over cached blocks, not an extra computation of the
plan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: default row-count ceiling for a forced broadcast hint. Sized for
#: narrow build sides (8–64 B/row framed: ids, degrees, hashes —
#: 20M rows ≈ 160 MB–1.3 GB, inside guide-§3.1 comfort and far under
#: the 8 GB / 512M-row hard cap). Sites whose rows carry wide payloads
#: pass an explicit lower limit.
BCAST_MAX_ROWS = 20_000_000


def bcast_if(
    df: DataFrame, n_rows: int, limit: int | None = None
) -> DataFrame:
    """``F.broadcast(df)`` when ``n_rows <= limit``, else ``df`` unhinted
    (the planner then picks a shuffle join — correct, just not
    broadcast). ``n_rows`` is the caller's runtime count of ``df`` or a
    cheap upper bound for it (an upper bound can only suppress the
    hint, never force an oversized broadcast). ``limit`` defaults to
    :data:`BCAST_MAX_ROWS` read at CALL time so tests can force the
    over-threshold fallback branch by patching the module constant."""
    if limit is None:
        limit = BCAST_MAX_ROWS
    return F.broadcast(df) if n_rows <= limit else df
